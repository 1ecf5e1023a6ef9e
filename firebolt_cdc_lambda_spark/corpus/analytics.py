"""Headline analytic queries (TPC-H-flavored) + windowed analytics.

These are the bench.py workload: scan-heavy aggregation (q1), selective
join + top-k (q3), multi-way join (q5), window top-n per group, and
gap-based sessionization (lag + running sum — the batch shape of a
streaming session window).

All measures use exact decimal aggregation (see corpus.base docstring).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import conf_scope
from .base import Query, davg, dec, dsum, load_table, sql_davg, sql_dsum

_Q1_CUTOFF = "1998-09-02"


# -- Q1: pricing summary (scan + grouped multi-agg) ----------------------
def q1_pricing_summary(spark, sf):
    li = load_table(spark, sf, "lineitem")
    disc = dec("l_discount", 4, 9)
    tax = dec("l_tax", 4, 9)
    price = dec("l_extendedprice")
    return (
        li.where(F.to_date("l_shipdate") <= F.lit(_Q1_CUTOFF))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # ROUND the high-scale money sums to cents (exact integer
            # decimal op — Spark HALF_UP == DuckDB half-away-from-zero
            # on positive sums; explicit ROUND, not a decimal downcast,
            # which DuckDB TRUNCATES) BEFORE the one double conversion:
            # a decimal(38,10) sum's scaled significand (~2.8e18 at
            # sf0.01) exceeds 2^53, so casting it straight to double
            # double-rounds differently in Spark (BigDecimal) vs DuckDB
            # (int128 / 10^10) — a 1-ULP drift the round-7 full-bit
            # harness caught.  At scale 2 the significand stays < 2^53
            # through sf1000, so int->double is exact and the /100 is
            # the one correctly-rounded IEEE op (corpus/base.py rules).
            F.round(F.sum(price * (F.lit(1).cast("decimal(9,4)") - disc)), 2)
            .cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1).cast("decimal(9,4)") - disc)
                          * (F.lit(1).cast("decimal(9,4)") + tax)), 2)
            .cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
         * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4)))), 2) AS DOUBLE) AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


# -- Q3: shipping priority (selective join + top-k) ----------------------
def q3_shipping_priority(spark, sf):
    c = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").where(F.to_date("o_orderdate") < F.lit("1998-01-01"))
    li = load_table(spark, sf, "lineitem").where(F.to_date("l_shipdate") > F.lit("1996-01-01"))
    disc = dec("l_discount", 4, 9)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"),
                 "o_orderpriority")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(9,4)") - disc))
             .cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l.l_shipdate AS DATE) > DATE '1996-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# -- Q5-flavored: revenue by nation (multi-way join) ---------------------
def q5_nation_revenue(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = F.broadcast(load_table(spark, sf, "customer"))
    s = F.broadcast(load_table(spark, sf, "supplier"))
    n = F.broadcast(load_table(spark, sf, "nation"))
    disc = dec("l_discount", 4, 9)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(9,4)") - disc))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("lineitem_count"))
    )


Q5_SQL = """
SELECT n.n_name AS nation_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
  COUNT(*) AS lineitem_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


# -- window: top-3 orders per market segment -----------------------------
def window_topn_per_segment(spark, sf):
    o = load_table(spark, sf, "orders")
    c = F.broadcast(load_table(spark, sf, "customer"))
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    # expose the rank as BIGINT: Spark row_number() is int32, DuckDB's
    # is int64 — an exposed-width drift the round-7 Arrow-schema
    # harness flags (the driver's value hash tolerates it, but the
    # local sweep is pinned stricter than the gate it predicts)
    return (j.withColumn("rank_in_segment", F.row_number().over(w))
            .where(F.col("rank_in_segment") <= 3)
            .select("c_mktsegment",
                    F.col("rank_in_segment").cast("long").alias("rank_in_segment"),
                    "o_orderkey", "o_totalprice"))


WINDOW_TOPN_SQL = """
SELECT c_mktsegment, rank_in_segment, o_orderkey, o_totalprice FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rank_in_segment
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rank_in_segment <= 3
"""


# -- sessionization: 30-min-gap sessions via lag + running sum -----------
def events_sessionization(spark, sf):
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sessions = (
        e.withColumn("new_session", new_session)
        .withColumn("session_idx",
                    F.sum("new_session").over(
                        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (sessions.groupBy("user_id")
            .agg(F.max("session_idx").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


EVENTS_SESSIONIZATION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id
"""


# -- Q10-flavored: top customers by returned-item revenue ----------------
def q10_returned_items(spark, sf):
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf, "orders")
    c = F.broadcast(load_table(spark, sf, "customer"))
    n = F.broadcast(load_table(spark, sf, "nation"))
    disc = dec("l_discount", 4, 9)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(9,4)") - disc))
             .cast("double").alias("lost_revenue"),
             F.count(F.lit(1)).alias("returned_items"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS lost_revenue,
  COUNT(*) AS returned_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


# -- rank family: rank / dense_rank / first_value over one window --------
def window_rank_family(spark, sf):
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (c.select(
        "c_nationkey", "c_custkey",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.first_value("c_custkey").over(w).alias("richest_custkey"))
        .where(F.col("bal_rank") <= 5))


WINDOW_RANK_FAMILY_SQL = """
SELECT c_nationkey, c_custkey, bal_rank, bal_dense_rank, richest_custkey FROM (
  SELECT c_nationkey, c_custkey,
         CAST(RANK() OVER w AS BIGINT) AS bal_rank,
         CAST(DENSE_RANK() OVER w AS BIGINT) AS bal_dense_rank,
         FIRST_VALUE(c_custkey) OVER w AS richest_custkey
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
) WHERE bal_rank <= 5
"""


# -- as-of join: latest order at-or-before each event (custom operator) --
def asof_event_last_order(spark, sf):
    from ..operators.asof import asof_join
    e = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (load_table(spark, sf, "orders")
         .groupBy("o_custkey", F.col("o_orderdate").alias("ots"))
         .agg(F.max("o_orderkey").alias("last_orderkey")))
    o = o.select(F.col("o_custkey").alias("user_id"), "ots", "last_orderkey")
    joined = asof_join(e, o, on="user_id", left_ts="ts", right_ts="ots",
                       right_payload=["last_orderkey"])
    return joined.select("event_id", "user_id", "last_orderkey")


ASOF_EVENT_LAST_ORDER_SQL = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate AS ots, MAX(o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.last_orderkey
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e
ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ots
"""


# -- forward as-of: for each event, the user's NEXT order ------------------
# The mirror of asof_event_last_order: direction="forward" carries the
# EARLIEST right row at-or-after each event (next-touch attribution /
# time-to-conversion enrichment).  Same single-shuffle union+carry plan;
# DuckDB expresses it natively as ASOF LEFT JOIN with the inequality
# flipped to <=.
def asof_event_next_order(spark, sf):
    from ..operators.asof import asof_join
    e = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (load_table(spark, sf, "orders")
         .groupBy("o_custkey", F.col("o_orderdate").alias("ots"))
         .agg(F.max("o_orderkey").alias("next_orderkey")))
    o = o.select(F.col("o_custkey").alias("user_id"), "ots", "next_orderkey")
    joined = asof_join(e, o, on="user_id", left_ts="ts", right_ts="ots",
                       right_payload=["next_orderkey"], direction="forward")
    return joined.select("event_id", "user_id", "next_orderkey")


ASOF_EVENT_NEXT_ORDER_SQL = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate AS ots, MAX(o_orderkey) AS next_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.next_orderkey
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e
ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts <= r.ots
"""


# -- range join: event pairs within 10 minutes per user ------------------
def range_join_event_pairs(spark, sf):
    from ..operators.rangejoin import range_join
    e = load_table(spark, sf, "events").select("user_id", "event_id", "ts")
    pairs = range_join(e, e, on="user_id", left_ts="ts", right_ts="ts",
                       max_gap_sec=600)
    return (pairs.where(F.col("event_id_l") != F.col("event_id_r"))
            .select("user_id",
                    F.col("event_id_l").alias("event_id_1"),
                    F.col("event_id_r").alias("event_id_2")))


RANGE_JOIN_EVENT_PAIRS_SQL = """
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
SELECT l.user_id, l.event_id AS event_id_1, r.event_id AS event_id_2
FROM e l JOIN e r
  ON l.user_id = r.user_id
 AND EPOCH_US(r.ts) >= EPOCH_US(l.ts)
 AND EPOCH_US(r.ts) < EPOCH_US(l.ts) + 600000000
WHERE l.event_id <> r.event_id
"""


# -- CUBE over two dimensions --------------------------------------------
def cube_status_priority(spark, sf):
    o = load_table(spark, sf, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"),
                 dsum("o_totalprice").alias("total")))


CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# -- arg-max per group (max_by / arg_max) ---------------------------------
def argmax_order_per_customer(spark, sf):
    o = load_table(spark, sf, "orders")
    # deterministic arg-max: tie-break on the orderkey inside the struct
    return (o.groupBy("o_custkey")
            .agg(F.max(F.struct("o_totalprice", "o_orderkey")).alias("m"))
            .select("o_custkey",
                    F.col("m.o_orderkey").alias("biggest_orderkey"),
                    F.col("m.o_totalprice").alias("biggest_totalprice")))


ARGMAX_SQL = """
SELECT o_custkey,
       MAX(struct_pack(p := o_totalprice, k := o_orderkey)).k AS biggest_orderkey,
       MAX(struct_pack(p := o_totalprice, k := o_orderkey)).p AS biggest_totalprice
FROM orders GROUP BY o_custkey
"""


# -- gap-filled monthly series (resample + zero-fill) ---------------------
def gapfill_monthly_orders(spark, sf):
    o = load_table(spark, sf, "orders")
    monthly = (o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"))
               .agg(F.count(F.lit(1)).alias("order_count")))
    bounds = o.agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("lo"),
        F.to_date(F.date_trunc("month", F.max("o_orderdate"))).alias("hi"))
    spine = bounds.selectExpr(
        "explode(sequence(lo, hi, interval 1 month)) AS month")
    return (spine.join(monthly, "month", "left")
            .select("month",
                    F.coalesce("order_count", F.lit(0)).alias("order_count")))


GAPFILL_SQL = """
WITH monthly AS (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month, COUNT(*) AS order_count
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month FROM bounds
)
SELECT s.month, COALESCE(m.order_count, 0) AS order_count
FROM spine s LEFT JOIN monthly m ON s.month = m.month
"""


# -- Q4-flavored: order-priority count with EXISTS semi-join -------------
def q4_order_priority(spark, sf):
    o = load_table(spark, sf, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1996-07-01")))
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    # EXISTS (lineitem shipped after the order date) -> left-semi join with
    # an extra inequality on top of the equi-key; Catalyst keeps the equi
    # part as the join key and applies the inequality as a join filter.
    cond = (o.o_orderkey == li.l_orderkey) & (
        F.to_date(li.l_shipdate) > F.to_date(o.o_orderdate))
    return (o.join(li, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
GROUP BY o_orderpriority
"""


# -- Q6: forecasting revenue change (pure filter + global agg) ------------
def q6_forecast_revenue(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (li.where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.sum(dec("l_extendedprice") * dec("l_discount", 4, 9))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items")))


Q6_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# -- Q14-flavored: promo revenue share (conditional agg over a join) ------
def q14_promo_revenue(spark, sf):
    li = load_table(spark, sf, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01")))
    p = F.broadcast(load_table(spark, sf, "part").select("p_partkey", "p_type"))
    disc = dec("l_discount", 4, 9)
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(9,4)") - disc)
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        (F.lit(100.0)
         * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                 .otherwise(F.lit(0).cast("decimal(29,6)"))).cast("double")
         / F.sum(rev).cast("double")).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"))


Q14_SQL = """
SELECT
  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
      ELSE CAST(0 AS DECIMAL(29,6)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
  AS promo_revenue_pct,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
"""


# -- Q18-flavored: large-volume orders (HAVING + join + top-k) ------------
def q18_large_orders(spark, sf):
    li = load_table(spark, sf, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dec("l_quantity")).alias("sum_qty_dec"))
           .where(F.col("sum_qty_dec") > 250))
    o = load_table(spark, sf, "orders")
    c = F.broadcast(load_table(spark, sf, "customer").select("c_custkey", "c_name"))
    return (o.join(big, o.o_orderkey == big.l_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey",
                    F.to_date("o_orderdate").alias("order_date"),
                    "o_totalprice",
                    F.col("sum_qty_dec").cast("double").alias("sum_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


Q18_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice,
       CAST(b.sum_qty_dec AS DOUBLE) AS sum_qty
FROM orders o
JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
      FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) b
  ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""


# -- Q19-flavored: disjunctive brand/size/quantity predicates -------------
def q19_disjunctive_revenue(spark, sf):
    li = load_table(spark, sf, "lineitem")
    p = F.broadcast(load_table(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_size"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    disc = dec("l_discount", 4, 9)
    pred = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 50))
           & (F.col("l_quantity").between(20, 30))))
    return (j.where(pred)
            .agg(F.sum(dec("l_extendedprice")
                       * (F.lit(1).cast("decimal(9,4)") - disc))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


Q19_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 50 AND l.l_quantity BETWEEN 20 AND 30)
"""


# -- Q22-flavored: rich customers with no URGENT order (scalar subq + anti)
def q22_idle_rich_customers(spark, sf):
    c = load_table(spark, sf, "customer")
    o = (load_table(spark, sf, "orders")
         .where(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey"))
    avg_bal = (c.where(F.col("c_acctbal") > 0)
               .agg(davg("c_acctbal").alias("a")))
    rich = (c.join(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("a")))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (idle.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 dsum("c_acctbal").alias("total_acctbal")))


Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal')} AS total_acctbal
FROM customer c
WHERE c.c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# -- GROUPING SETS (distinct from cube/rollup) -----------------------------
def grouping_sets_status_priority(spark, sf):
    o = load_table(spark, sf, "orders")
    return (o.groupingSets([["o_orderstatus"], ["o_orderpriority"]],
                           "o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"),
                 dsum("o_totalprice").alias("total")))


GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS total
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


# -- Q7-flavored: volume shipping between two nations --------------------
# (testdata has no l_shipmode/commitdate; the bilateral nation-pair +
# year-bucketed revenue shape is preserved.)
def _one():
    return F.lit(1).cast("decimal(9,4)")


def q7_volume_shipping(spark, sf):
    li = load_table(spark, sf, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01")))
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = F.broadcast(load_table(spark, sf, "customer").select("c_custkey", "c_nationkey"))
    s = F.broadcast(load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey"))
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                              F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year(F.to_date("l_shipdate")).cast("long").alias("l_year"))
        .agg(F.sum(dec("l_extendedprice") * (_one() - dec("l_discount", 4, 9)))
             .cast("double").alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
GROUP BY 1, 2, 3
"""


# -- Q8-flavored: market share of one supplier nation in a region ---------
def q8_market_share(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01")))
    p = F.broadcast(load_table(spark, sf, "part")
                    .where(F.col("p_type") == "PROMO").select("p_partkey"))
    c = F.broadcast(load_table(spark, sf, "customer").select("c_custkey", "c_nationkey"))
    s = F.broadcast(load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey"))
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    # customer nations restricted to the ASIA region
    cn = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("c_nk")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    vol = dec("l_extendedprice") * (_one() - dec("l_discount", 4, 9))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("c_nk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year(F.to_date("o_orderdate")).cast("long").alias("o_year"))
        .agg(
            (F.sum(F.when(F.col("supp_nation") == "NATION_2", vol)
                   .otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
             / F.sum(vol).cast("double")).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"))
    )


Q8_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM(CASE WHEN n2.n_name = 'NATION_2'
       THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS mkt_share,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS total_volume
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
GROUP BY 1
"""


# -- Q9-flavored: product-line profit by supplier nation and year ---------
# (no partsupp/ps_supplycost in the testdata; profit reduces to revenue,
# the nation x year rollup over a LIKE-filtered part join is preserved.)
def q9_product_profit(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    p = F.broadcast(load_table(spark, sf, "part")
                    .where(F.col("p_name").like("%widget%")).select("p_partkey"))
    s = F.broadcast(load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(load_table(spark, sf, "nation")
                    .select("n_nationkey", F.col("n_name").alias("nation_name")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation_name",
                 F.year(F.to_date("o_orderdate")).cast("long").alias("o_year"))
        .agg(F.sum(dec("l_extendedprice") * (_one() - dec("l_discount", 4, 9)))
             .cast("double").alias("profit"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q9_SQL = """
SELECT n.n_name AS nation_name,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS profit,
  COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# -- Q13: customer order-count distribution (left outer + double group) ---
def q13_customer_distribution(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) GROUP BY c_count
"""


# -- Q15: top supplier(s) by quarterly revenue (scalar-max subquery) ------
def q15_top_supplier(spark, sf):
    li = load_table(spark, sf, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01")))
    # keep the revenue DECIMAL through the max-comparison (exact on both
    # engines); cast to double only in the output projection
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(dec("l_extendedprice") * (_one() - dec("l_discount", 4, 9)))
                .alias("rev_dec")))
    max_rev = rev.agg(F.max("rev_dec").alias("max_dec"))
    s = F.broadcast(load_table(spark, sf, "supplier").select("s_suppkey", "s_name"))
    return (rev.join(F.broadcast(max_rev), rev.rev_dec == max_rev.max_dec)
            .join(s, rev.l_suppkey == s.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("rev_dec").cast("double").alias("total_revenue")))


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS rev_dec
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.rev_dec AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM revenue)
"""


# -- Q17-flavored: small-quantity-order revenue (correlated avg) ----------
def q17_small_quantity_revenue(spark, sf):
    li = load_table(spark, sf, "lineitem")
    p = F.broadcast(load_table(spark, sf, "part")
                    .where(F.col("p_brand") == "Brand#1").select("p_partkey"))
    # correlated 0.2*AVG(l_quantity) per part, in exact integer form:
    # q < 0.2 * s/n  <=>  5*q*n < s   (decimal arithmetic, no division)
    per_part = (li.groupBy(F.col("l_partkey").alias("pk"))
                .agg(F.sum(dec("l_quantity")).alias("qty_sum"),
                     F.count(F.lit(1)).alias("qty_n")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .where(dec("l_quantity") * F.lit(5) * F.col("qty_n")
               < F.col("qty_sum"))
        .agg((F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0))
             .alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_small"))
    )


Q17_SQL = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
         COUNT(*) AS qty_n
  FROM lineitem GROUP BY 1
)
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
  COUNT(*) AS n_small
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN per_part pp ON l.l_partkey = pp.pk
WHERE p.p_brand = 'Brand#1'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum
"""


# -- Q12-flavored: ship-delay classes x priority (conditional counts) -----
# (no l_shipmode/commitdate/receiptdate in the testdata; q12's shape —
# CASE-bucketed conditional counts over the orders join — is preserved
# with delay = l_shipdate - o_orderdate.)
def q12_shipping_delay_classes(spark, sf):
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (F.when(delay <= 30, "fast")
              .when(delay <= 90, "normal")
              .otherwise("slow"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(bucket.alias("delay_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


Q12_SQL = """
SELECT CASE WHEN DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30 THEN 'fast'
            WHEN DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 90 THEN 'normal'
            ELSE 'slow' END AS delay_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


# -- Q21-flavored: sole supplier on a multi-supplier order ----------------
# q21's core pattern — EXISTS(another lineitem, same order) AND NOT
# EXISTS(another lineitem, same order, different supplier) — applied to
# returned items: suppliers who were the only supplier on orders that
# have multiple lineitems.
# -- the four partsupp-dependent TPC-H queries (q2/q11/q16/q20) -----------
# The testdata has no partsupp table, so these were "inexpressible" —
# until you DERIVE one: 4 suppliers per part by pure integer arithmetic
# ((p_partkey*7 + i*13) mod |supplier|, availqty/supplycost likewise),
# identical on both engines, making the remaining TPC-H shapes
# expressible with bit-matchable oracles.  Shape-faithful adaptations
# (like q12/q21): filters are re-targeted at the fixtures' domains,
# decimal arithmetic follows the corpus exactness rules, and every
# LIMIT carries a total order.
def _derived_partsupp(spark, sf):
    part = load_table(spark, sf, "part").select("p_partkey")
    ns = load_table(spark, sf, "supplier").agg(
        F.count(F.lit(1)).alias("__ns"))
    return (part.crossJoin(F.broadcast(ns))
            .selectExpr("p_partkey", "__ns",
                        "explode(sequence(0, 3)) AS i")
            .selectExpr(
                "p_partkey",
                "(p_partkey * 7 + i * 13) % __ns AS ps_suppkey",
                "(p_partkey * 13 + i * 7) % 9999 + 1 AS ps_availqty",
                "CAST((p_partkey * 31 + i * 17) % 100000 AS DOUBLE)"
                " / 100.0 AS ps_supplycost"))


_PS_SQL = """
ps AS (
  SELECT p_partkey,
         (p_partkey * 7 + i * 13) % (SELECT COUNT(*) FROM supplier)
           AS ps_suppkey,
         (p_partkey * 13 + i * 7) % 9999 + 1 AS ps_availqty,
         CAST((p_partkey * 31 + i * 17) % 100000 AS DOUBLE) / 100.0
           AS ps_supplycost
  FROM part, unnest(range(0, 4)) AS t(i)
)
"""


def q2_min_cost_supplier(spark, sf):
    ps = _derived_partsupp(spark, sf)
    part = (load_table(spark, sf, "part").where("p_size % 10 = 5")
            .select("p_partkey", "p_name"))
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region").where("r_name = 'EUROPE'")
    eu = (sup.join(F.broadcast(nat),
                   sup.s_nationkey == nat.n_nationkey)
          .join(F.broadcast(reg),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    j = (ps.join(part, "p_partkey")
         .join(eu, F.col("ps_suppkey") == F.col("s_suppkey")))
    # min-cost per part as a WINDOW over the single p_partkey exchange —
    # not a groupBy + join-back, which plans as two extra SMJs of
    # ps-sized relations (the oracle keeps the join-back formulation as
    # an independent restatement)
    from pyspark.sql import Window
    w = Window.partitionBy("p_partkey")
    return (j.withColumn("mc", F.min("ps_supplycost").over(w))
            .where("ps_supplycost = mc")
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_name", "ps_supplycost")
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


Q2_SQL = f"""
WITH {_PS_SQL},
eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
       JOIN nation ON n_nationkey = s_nationkey
       JOIN region ON r_regionkey = n_regionkey
       WHERE r_name = 'EUROPE'),
j AS (SELECT p.p_partkey, p.p_name, ps.ps_supplycost,
             eu.s_suppkey, eu.s_name, eu.s_acctbal, eu.n_name
      FROM ps JOIN part p USING (p_partkey)
      JOIN eu ON eu.s_suppkey = ps.ps_suppkey
      WHERE p.p_size % 10 = 5),
m AS (SELECT p_partkey, MIN(ps_supplycost) AS mc FROM j GROUP BY 1)
SELECT j.s_acctbal, j.s_name, j.n_name, j.p_partkey, j.p_name,
       j.ps_supplycost
FROM j JOIN m ON j.p_partkey = m.p_partkey AND j.ps_supplycost = m.mc
ORDER BY j.s_acctbal DESC, j.n_name, j.s_name, j.p_partkey
LIMIT 100
"""


def q11_important_stock(spark, sf):
    ps = _derived_partsupp(spark, sf)
    sup = load_table(spark, sf, "supplier").where("s_nationkey % 5 = 2")
    v = (ps.join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
         .groupBy("p_partkey")
         .agg(F.sum(F.expr(
             "CAST(ps_supplycost AS DECIMAL(18,2))"
             " * CAST(ps_availqty AS DECIMAL(10,0))")).alias("val")))
    tot = v.agg(F.sum("val").alias("t"))
    return (v.crossJoin(F.broadcast(tot))
            .where("val * 10000 > t")
            .selectExpr("p_partkey", "CAST(val AS DOUBLE) AS stock_value"))


Q11_SQL = f"""
WITH {_PS_SQL},
v AS (SELECT p_partkey,
             SUM(CAST(ps_supplycost AS DECIMAL(18,2))
                 * CAST(ps_availqty AS DECIMAL(10,0))) AS val
      FROM ps JOIN supplier ON s_suppkey = ps_suppkey
      WHERE s_nationkey % 5 = 2 GROUP BY 1),
tot AS (SELECT SUM(val) AS t FROM v)
SELECT p_partkey, CAST(val AS DOUBLE) AS stock_value
FROM v, tot WHERE val * 10000 > t
"""


def q16_part_supplier_variety(spark, sf):
    ps = _derived_partsupp(spark, sf)
    part = load_table(spark, sf, "part").where(
        "p_brand <> 'Brand#13' AND p_type <> 'MEDIUM' "
        "AND p_size IN (3,7,11,15,19,23,27,31)")
    sup = load_table(spark, sf, "supplier").where("s_acctbal >= 0")
    return (ps.join(part, "p_partkey")
            .join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt")))


Q16_SQL = f"""
WITH {_PS_SQL}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN part USING (p_partkey)
JOIN supplier ON s_suppkey = ps_suppkey AND s_acctbal >= 0
WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
  AND p_size IN (3,7,11,15,19,23,27,31)
GROUP BY 1, 2, 3
"""


def q20_promotion_suppliers(spark, sf):
    ps = _derived_partsupp(spark, sf)
    part = load_table(spark, sf, "part").where("p_name LIKE '%red%'")
    li = load_table(spark, sf, "lineitem")
    l97 = (li.where("year(l_shipdate) = 1997")
           .groupBy("l_partkey", "l_suppkey")
           .agg(F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,2))"))
                .alias("qty")))
    cand = (ps.join(part, "p_partkey")
            .join(l97, (F.col("ps_suppkey") == F.col("l_suppkey"))
                  & (F.col("p_partkey") == F.col("l_partkey")))
            .where("CAST(2 * ps_availqty AS DECIMAL(18,2)) > qty")
            .select("ps_suppkey").distinct())
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    return (cand.join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "s_acctbal", "n_name"))


Q20_SQL = f"""
WITH {_PS_SQL},
l97 AS (SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1997
        GROUP BY 1, 2),
cand AS (SELECT DISTINCT ps.ps_suppkey FROM ps
         JOIN part p USING (p_partkey)
         JOIN l97 ON l97.l_partkey = ps.p_partkey
                 AND l97.l_suppkey = ps.ps_suppkey
         WHERE p.p_name LIKE '%red%'
           AND CAST(2 * ps_availqty AS DECIMAL(18,2)) > l97.qty)
SELECT s_suppkey, s_name, s_acctbal, n_name
FROM cand JOIN supplier ON s_suppkey = cand.ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
"""


def q21_sole_supplier_multi_line(spark, sf):
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag")
    s = F.broadcast(load_table(spark, sf, "supplier").select("s_suppkey", "s_name"))
    base = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    exists_other_line = (
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_linenumber") != F.col("l1.l_linenumber")))
    exists_other_supp = (
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")))
    return (base
            .join(l2, exists_other_line, "left_semi")
            .join(l3, exists_other_supp, "left_anti")
            .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


Q21_SQL = """
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_linenumber <> l1.l_linenumber)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY 1, 2
"""


# -- tumbling time windows: hourly event rollup (batch form of the -------
# streaming window(); F.window emits the same [start, end) buckets a
# watermarked streaming agg would, so this doubles as its oracle check)
def events_hourly_tumbling(spark, sf):
    e = load_table(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value"))
            .select(F.unix_micros(F.col("w.start")).alias("hour_start_us"),
                    "event_type", "n_events", "total_value"))


EVENTS_HOURLY_TUMBLING_SQL = f"""
SELECT EPOCH_US(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP))) AS hour_start_us,
       event_type, COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
GROUP BY 1, 2
"""


# -- scalar showcase 2: calendar arithmetic + string manipulation --------
# (exact-only functions — no transcendentals, whose libm results are not
# guaranteed bit-identical across engines)
def scalar_datetime_showcase(spark, sf):
    o = load_table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.add_months(d, 2).alias("plus2m"),
        F.last_day(d).alias("month_end"),
        (F.weekday(d) + F.lit(1)).cast("int").alias("isodow"),
        F.quarter(d).cast("int").alias("qtr"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.lpad(F.col("o_orderpriority"), 12, "*").alias("padded"),
        F.translate(F.col("o_orderstatus"), "OFP", "ofp").alias("status_lc"),
        F.reverse(F.col("o_orderpriority")).alias("rev_priority"),
        F.repeat(F.col("o_orderstatus"), 3).alias("status3"),
        F.greatest(F.col("o_totalprice"), F.lit(1000.0)).alias("floor_price"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("cap_price"),
    )


SCALAR_DATETIME_SQL = """
SELECT o_orderkey,
  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
  CAST(ISODOW(CAST(o_orderdate AS DATE)) AS INTEGER) AS isodow,
  CAST(QUARTER(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr,
  CAST(WEEKOFYEAR(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week,
  LPAD(o_orderpriority, 12, '*') AS padded,
  TRANSLATE(o_orderstatus, 'OFP', 'ofp') AS status_lc,
  REVERSE(o_orderpriority) AS rev_priority,
  REPEAT(o_orderstatus, 3) AS status3,
  GREATEST(o_totalprice, 1000.0) AS floor_price,
  LEAST(o_totalprice, 100000.0) AS cap_price
FROM orders
"""


# -- window frames: moving sum/avg + lead gap over per-customer orders ---
def window_moving_frame(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate").asc(), F.asc("o_orderkey"))
    frame = w.rowsBetween(-2, Window.currentRow)   # 3-row trailing frame
    # deterministic moving avg: decimal frame-sum cast to double, one
    # IEEE division by the frame row count
    msum = F.sum(dec("o_totalprice")).over(frame).cast("double")
    mcount = F.count(F.lit(1)).over(frame)
    next_date = F.lead(F.to_date("o_orderdate")).over(w)
    return o.select(
        "o_custkey", "o_orderkey",
        msum.alias("moving_sum"),
        (msum / mcount).alias("moving_avg"),
        F.datediff(next_date, F.to_date("o_orderdate")).alias("days_to_next"))


WINDOW_MOVING_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER frame AS DOUBLE) AS moving_sum,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER frame AS DOUBLE)
    / COUNT(*) OVER frame AS moving_avg,
  CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                 LEAD(CAST(o_orderdate AS DATE)) OVER w) AS INTEGER) AS days_to_next
FROM orders
WINDOW
  w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC),
  frame AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# -- window distribution family: ntile / percent_rank / cume_dist ---------
def window_distribution_family(spark, sf):
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_mktsegment", "c_custkey",
        F.ntile(4).over(w).cast("int").alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"))


WINDOW_DISTRIBUTION_SQL = """
SELECT c_mktsegment, c_custkey,
  CAST(NTILE(4) OVER w AS INTEGER) AS bal_quartile,
  PERCENT_RANK() OVER w AS bal_pct_rank,
  CUME_DIST() OVER w AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
"""


# -- lead/lag gaps + IGNORE NULLS carry-forward --------------------------
# Inter-event time per user plus "last purchase value seen so far": the
# IGNORE NULLS frame (last non-null strictly before the current row) is
# the standard change-data carry-forward idiom.  One window shuffle on
# user_id; both window functions share the same sort, so Spark computes
# them in a single Window physical operator.
def events_lead_lag_gaps(spark, sf):
    e = load_table(spark, sf, "events").where("user_id < 100")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (e.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("epoch_us"),
        gap.cast("long").alias("gap_us"),
        last_purchase.alias("last_purchase_value")))


EVENTS_LEAD_LAG_SQL = """
SELECT event_id, user_id,
       EPOCH_US(ts) AS epoch_us,
       CAST(EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) AS BIGINT) AS gap_us,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         AS last_purchase_value
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
WHERE user_id < 100
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# -- RANGE-frame window (value-based moving aggregate) --------------------
# Trailing-30-day revenue per order: RANGE BETWEEN 30 PRECEDING AND
# CURRENT ROW over an integer day axis — the value-based frame (all
# orders in the last 30 days, however many rows that is), vs
# window_moving_frame's ROWS frame (fixed row count).  Peers (same day)
# aggregate together in both engines by RANGE semantics; the decimal sum
# keeps the result exact in any evaluation order.
def window_range_frame(spark, sf):
    o = load_table(spark, sf, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01")).cast("int")
    w = (Window.partitionBy("o_orderstatus").orderBy("epoch_day")
         .rangeBetween(-30, 0))
    return (o.withColumn("epoch_day", day)
            .select("o_orderkey", "o_orderstatus", "epoch_day",
                    F.sum(dec("o_totalprice")).over(w).cast("double")
                    .alias("trailing_30d_sum")))


WINDOW_RANGE_FRAME_SQL = """
SELECT o_orderkey, o_orderstatus, epoch_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_orderstatus ORDER BY epoch_day
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_30d_sum
FROM (SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                  AS INTEGER) AS epoch_day
      FROM orders)
"""


# -- LISTAGG / STRING_AGG surface ----------------------------------------
# Ordered distinct string aggregation — Spark has no STRING_AGG, so the
# deterministic spelling is array_sort(collect_set(...)) + array_join
# (collect_set order is nondeterministic; the sort makes it total).
def sql_surface_listagg(spark, sf):
    o = load_table(spark, sf, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.array_join(F.array_sort(F.collect_set("o_orderpriority")),
                              ",").alias("priorities"),
                 F.count_distinct("o_orderpriority").alias("n_priorities")))


SQL_SURFACE_LISTAGG_SQL = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
         AS priorities,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders GROUP BY 1
"""


# -- linear-counting cardinality sketch audit ------------------------------
# The cardinality member of the sketch family (textops' CMS covers
# frequency): a linear-counting bitmap of m bits, bit = explicit
# (a*key + b) % p % m — never an engine-native hash.  The audit compares
# bitmap occupancy to the exact distinct count per (event_type, m) for
# three bitmap sizes, answering the production sizing question "how many
# distincts does an m-bit bitmap swallow?" entirely in integers
# (collision_loss = exact - occupied).  The estimator itself,
# -m * ln(zero_bits / m), is deliberately NOT in the output: ln is not
# correctly-rounded and would break the repo's bit-identical-oracle
# contract; occupied_bits determines it monotonically.
#
# Scale: the sketch-only path keeps <= m bits of state per group and
# aggregates map-side (this audit also computes the exact distinct —
# the expensive truth it exists to compare against).
_LC_MS = (64, 256, 1024)
_LC_A, _LC_B, _LC_P = 123457, 886731, 1_000_003


def events_distinct_sketch_audit(spark, sf):
    e = load_table(spark, sf, "events")
    ms = ", ".join(str(m) for m in _LC_MS)
    bits = (e.selectExpr("event_type", "user_id",
                         f"({_LC_A} * user_id + {_LC_B}) % {_LC_P} AS h")
            .selectExpr("event_type", "user_id", "h",
                        f"explode(array({ms})) AS m")
            .selectExpr("event_type", "m", "user_id", "h % m AS bit"))
    return (bits.groupBy("event_type", "m")
            .agg(F.count_distinct("user_id").alias("exact_distinct"),
                 F.count_distinct("bit").alias("occupied_bits"))
            .selectExpr("event_type", "CAST(m AS INT) AS m",
                        "exact_distinct", "occupied_bits",
                        "exact_distinct - occupied_bits AS collision_loss")
            .orderBy("event_type", "m"))


EVENTS_DISTINCT_SKETCH_SQL = f"""
WITH base AS (SELECT event_type, user_id,
                     ({_LC_A} * user_id + {_LC_B}) % {_LC_P} AS h
              FROM events),
bits AS (SELECT event_type, m, user_id, h % m AS bit
         FROM base, (VALUES {', '.join(f'({m})' for m in _LC_MS)}) t(m))
SELECT event_type, CAST(m AS INTEGER) AS m,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT bit) AS BIGINT) AS occupied_bits,
       CAST(COUNT(DISTINCT user_id) - COUNT(DISTINCT bit) AS BIGINT)
         AS collision_loss
FROM bits GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- Bloom-filter membership sketch audit ---------------------------------
# The membership member of the sketch family (CMS = frequency,
# linear counting = cardinality): an m-bit Bloom filter over the DISTINCT
# custkeys holding a high-value order (o_totalprice > 480k — roughly a
# third of customers at every SF, so both sides of the audit are
# populated), probed with every customer NOT in that set — the exact
# shape of Spark's own runtime-filter join pruning (a bloom built on the
# filtered build side prunes probe-side scan rows).  The audit counts,
# per bitmap size m, how many true non-members the filter wrongly admits
# (false positives), entirely in integers: k=3 explicit polynomial
# hashes, never an engine-native hash.
#
# Scale: the filter itself is <= m bits of state built with one
# map-side-combined distinct; the probe is a broadcast join of the bit
# set against the anti-join survivors.  The FP count answers the
# production sizing question "how many wasted fetches per bitmap size".
_BF_MS = (256, 1024, 4096)
_BF_HASHES = ((123457, 886731), (594521, 193939), (774377, 331613))
_BF_P = 1_000_003
_BF_THRESHOLD = 480_000


def join_bloom_filter_audit(spark, sf):
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    ms = ", ".join(str(m) for m in _BF_MS)
    a_arr = ", ".join(f"{a}L" for a, _ in _BF_HASHES)
    b_arr = ", ".join(f"{b}L" for _, b in _BF_HASHES)
    members = (o.where(f"o_totalprice > {_BF_THRESHOLD}")
               .select("o_custkey").distinct())
    bits = (members
            .selectExpr("o_custkey", f"explode(array({ms})) AS m")
            .selectExpr("o_custkey", "m",
                        f"explode(sequence(1, {len(_BF_HASHES)})) AS j")
            .selectExpr("m",
                        f"((element_at(array({a_arr}), j) * o_custkey + "
                        f"element_at(array({b_arr}), j)) % {_BF_P}) % m AS bit")
            .distinct())
    nonmembers = (c.join(members, c.c_custkey == members.o_custkey,
                         "left_anti").select("c_custkey"))
    probe = (nonmembers
             .selectExpr("c_custkey", f"explode(array({ms})) AS m")
             .selectExpr("c_custkey", "m",
                         f"explode(sequence(1, {len(_BF_HASHES)})) AS j")
             .selectExpr("c_custkey", "m",
                         f"((element_at(array({a_arr}), j) * c_custkey + "
                         f"element_at(array({b_arr}), j)) % {_BF_P}) % m AS bit"))
    marked = (probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                         ["m", "bit"], "left")
              .fillna(0, ["hit"]))
    fp = (marked.groupBy("m", "c_custkey")
          .agg(F.min("hit").alias("all_hit"))
          .groupBy("m")
          .agg(F.count(F.lit(1)).alias("n_nonmembers"),
               F.sum("all_hit").cast("bigint").alias("false_positives")))
    occ = bits.groupBy("m").agg(F.count(F.lit(1)).alias("occupied_bits"))
    nmem = (members.selectExpr(f"explode(array({ms})) AS m")
            .groupBy("m").agg(F.count(F.lit(1)).alias("n_members")))
    return (nmem.join(occ, "m").join(fp, "m")
            .selectExpr("CAST(m AS INT) AS m", "n_members", "occupied_bits",
                        "n_nonmembers", "false_positives")
            .orderBy("m"))


_BF_MS_VALUES = ", ".join(f"({m})" for m in _BF_MS)
_BF_HS_VALUES = ", ".join(f"({j + 1}, {a}, {b})"
                          for j, (a, b) in enumerate(_BF_HASHES))
JOIN_BLOOM_FILTER_SQL = f"""
WITH members AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_totalprice > {_BF_THRESHOLD}),
ms(m) AS (VALUES {_BF_MS_VALUES}),
hs(j, a, b) AS (VALUES {_BF_HS_VALUES}),
bits AS (SELECT DISTINCT m, ((a * o_custkey + b) % {_BF_P}) % m AS bit
         FROM members, ms, hs),
nonmembers AS (SELECT c_custkey FROM customer
               WHERE c_custkey NOT IN (SELECT o_custkey FROM members)),
probe AS (SELECT c_custkey, m, j,
                 ((a * c_custkey + b) % {_BF_P}) % m AS bit
          FROM nonmembers, ms, hs),
marked AS (SELECT p.c_custkey, p.m,
                  CASE WHEN bt.bit IS NULL THEN 0 ELSE 1 END AS hit
           FROM probe p LEFT JOIN bits bt ON bt.m = p.m AND bt.bit = p.bit),
fp AS (SELECT m, COUNT(*) AS n_nonmembers,
              SUM(all_hit) AS false_positives
       FROM (SELECT m, c_custkey, MIN(hit) AS all_hit
             FROM marked GROUP BY 1, 2) GROUP BY 1),
occ AS (SELECT m, COUNT(*) AS occupied_bits FROM bits GROUP BY 1),
nmem AS (SELECT m, COUNT(*) AS n_members FROM members, ms GROUP BY 1)
SELECT CAST(n.m AS INTEGER) AS m, CAST(n_members AS BIGINT) AS n_members,
       CAST(occupied_bits AS BIGINT) AS occupied_bits,
       CAST(n_nonmembers AS BIGINT) AS n_nonmembers,
       CAST(false_positives AS BIGINT) AS false_positives
FROM nmem n JOIN occ USING (m) JOIN fp USING (m) ORDER BY m
"""


# -- HLL-style register sketch audit --------------------------------------
# Probabilistic-counting registers (Flajolet-Martin / HyperLogLog
# family): bucket = h % m, rank rho = trailing-zero count of the
# remaining hash bits + 1 (computed EXACTLY as length(bin(q & -q)) —
# bin() is minimal-width on both engines), register = max rank.  The
# estimator's harmonic denominator sum(2^-M_b) is a dyadic rational, so
# scaled by 2^{_HLL_K} it is an exact BIGINT: harmonic_denom_scaled =
# (m - registers_hit) * 2^K + sum over hit registers of 2^(K - M_b),
# summed with shiftleft (never pow(), which returns inexact doubles).
# The float estimate alpha_m * m^2 * 2^K / denom is deliberately NOT in
# the output (one IEEE division away; the BIGINT denominator determines
# it monotonically) — same bit-identical-oracle posture as the
# linear-counting audit above.
#
# Scale: registers are <= m rows of state per group after the first
# map-side-combined aggregation; the raw-key exact_distinct column is
# the expensive ground truth the audit exists to compare against.
_HLL_MS = (16, 64)
_HLL_A, _HLL_B, _HLL_P = 594521, 193939, 1_000_003
_HLL_K = 21  # 2^21 scale: q < p/16 < 2^17, so rho <= 18 < K


def events_hll_register_audit(spark, sf):
    e = load_table(spark, sf, "events")
    ms = ", ".join(str(m) for m in _HLL_MS)
    base = (e.selectExpr("event_type", "user_id",
                         f"({_HLL_A} * user_id + {_HLL_B}) % {_HLL_P} AS h")
            .selectExpr("event_type", "user_id", "h",
                        f"explode(array({ms})) AS m")
            .selectExpr("event_type", "m", "user_id",
                        "h % m AS reg", "h div m AS q")
            .selectExpr("event_type", "m", "user_id", "reg",
                        f"CASE WHEN q = 0 THEN {_HLL_K} "
                        "ELSE length(bin(q & -q)) END AS rho"))
    regs = (base.groupBy("event_type", "m", "reg")
            .agg(F.max("rho").alias("mrank")))
    summ = (regs.groupBy("event_type", "m")
            .agg(F.count(F.lit(1)).alias("registers_hit"),
                 F.max("mrank").cast("int").alias("max_rank"),
                 F.sum(F.expr(
                     f"shiftleft(CAST(1 AS BIGINT), {_HLL_K} - mrank)"))
                 .alias("hit_denom")))
    exact = (base.groupBy("event_type", "m")
             .agg(F.count_distinct("user_id").alias("exact_distinct")))
    return (exact.join(summ, ["event_type", "m"])
            .selectExpr("event_type", "CAST(m AS INT) AS m",
                        "exact_distinct",
                        "registers_hit", "max_rank",
                        f"(m - registers_hit) * CAST({1 << _HLL_K} AS BIGINT)"
                        " + hit_denom AS harmonic_denom_scaled")
            .orderBy("event_type", "m"))


EVENTS_HLL_REGISTER_SQL = f"""
WITH base AS (
  SELECT event_type, m, user_id, h % m AS reg, h // m AS q
  FROM (SELECT event_type, user_id,
               ({_HLL_A} * user_id + {_HLL_B}) % {_HLL_P} AS h
        FROM events),
       (VALUES {', '.join(f'({m})' for m in _HLL_MS)}) t(m)),
ranked AS (SELECT event_type, m, user_id, reg,
                  CASE WHEN q = 0 THEN {_HLL_K}
                       ELSE length(bin(q & -q)) END AS rho
           FROM base),
regs AS (SELECT event_type, m, reg, MAX(rho) AS mrank
         FROM ranked GROUP BY 1, 2, 3),
summ AS (SELECT event_type, m,
                COUNT(*) AS registers_hit,
                MAX(mrank) AS max_rank,
                SUM(CAST(1 AS BIGINT) << ({_HLL_K} - mrank)) AS hit_denom
         FROM regs GROUP BY 1, 2),
exact AS (SELECT event_type, m, COUNT(DISTINCT user_id) AS exact_distinct
          FROM ranked GROUP BY 1, 2)
SELECT e.event_type, CAST(e.m AS INTEGER) AS m,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST(registers_hit AS BIGINT) AS registers_hit,
       CAST(max_rank AS INTEGER) AS max_rank,
       CAST((e.m - registers_hit) * {1 << _HLL_K} + hit_denom AS BIGINT)
         AS harmonic_denom_scaled
FROM exact e JOIN summ s ON e.event_type = s.event_type AND e.m = s.m
ORDER BY 1, 2
"""


# -- fixed-grid histogram quantile sketch audit ---------------------------
# The quantile member of the sketch family: a fixed-width histogram
# (the mergeable, fixed-memory quantile sketch every OLAP engine ships
# in some form) vs the exact order statistic.  Prices go through the
# DECIMAL(18,2)->cents BIGINT gate so binning is exact; the exact
# percentile is the ceil(q*n)-th value under (cents) ordering — the
# PERCENTILE_DISC definition — spelled with row_number so both engines
# share one tie semantics.  approx_pXX is the lower edge of the first
# bin whose cumulative count reaches the target rank; err columns are
# the signed integer gap, bounded by the bin width by construction.
#
# Scale: the histogram path is one map-side-combined groupBy over
# (status, bin) — fixed-size state, no global sort; the exact path (a
# per-status full sort) is the expensive truth being audited.
_HQ_BIN_CENTS = 500_000  # $5,000 bins


def val_quantile_sketch_audit(spark, sf):
    o = load_table(spark, sf, "orders")
    base = o.selectExpr(
        "o_orderstatus AS status",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents")
    hist = (base.groupBy("status",
                         F.expr(f"cents div {_HQ_BIN_CENTS}").alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt")))
    wcum = (Window.partitionBy("status").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("status")
    cum = (hist.withColumn("cum", F.sum("cnt").over(wcum))
           .withColumn("n", F.sum("cnt").over(wall)))
    approx = (cum.selectExpr(
        "status", "bin", "cum", "n",
        "(n + 1) div 2 AS r50", "(9 * n + 9) div 10 AS r90")
        .groupBy("status")
        .agg(F.max("n").alias("n"),
             F.min(F.when(F.col("cum") >= F.col("r50"), F.col("bin")))
             .alias("b50"),
             F.min(F.when(F.col("cum") >= F.col("r90"), F.col("bin")))
             .alias("b90"))
        .selectExpr("status", "n",
                    f"b50 * {_HQ_BIN_CENTS} AS approx_p50_cents",
                    f"b90 * {_HQ_BIN_CENTS} AS approx_p90_cents"))
    wrn = Window.partitionBy("status").orderBy("cents")
    exact = (base.withColumn("rn", F.row_number().over(wrn))
             .withColumn("n", F.count(F.lit(1)).over(wall))
             .where("rn = (n + 1) div 2 OR rn = (9 * n + 9) div 10")
             .groupBy("status")
             .agg(F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("cents")))
                  .alias("exact_p50_cents"),
                  F.max(F.when(F.expr("rn = (9 * n + 9) div 10"),
                               F.col("cents"))).alias("exact_p90_cents")))
    return (approx.join(exact, "status")
            .selectExpr("status", "n",
                        "exact_p50_cents", "approx_p50_cents",
                        "approx_p50_cents - exact_p50_cents AS err_p50_cents",
                        "exact_p90_cents", "approx_p90_cents",
                        "approx_p90_cents - exact_p90_cents AS err_p90_cents")
            .orderBy("status"))


VAL_QUANTILE_SKETCH_SQL = f"""
WITH base AS (SELECT o_orderstatus AS status,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
              FROM orders),
hist AS (SELECT status, cents // {_HQ_BIN_CENTS} AS bin, COUNT(*) AS cnt
         FROM base GROUP BY 1, 2),
cum AS (SELECT status, bin, cnt,
               SUM(cnt) OVER (PARTITION BY status ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY status) AS n
        FROM hist),
approx AS (SELECT status, MAX(n) AS n,
                  MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END)
                    * {_HQ_BIN_CENTS} AS approx_p50_cents,
                  MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN bin END)
                    * {_HQ_BIN_CENTS} AS approx_p90_cents
           FROM cum GROUP BY status),
ranked AS (SELECT status, cents,
                  ROW_NUMBER() OVER (PARTITION BY status ORDER BY cents)
                    AS rn,
                  COUNT(*) OVER (PARTITION BY status) AS n
           FROM base),
exact AS (SELECT status,
                 MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                   AS exact_p50_cents,
                 MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
                   AS exact_p90_cents
          FROM ranked
          WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
          GROUP BY status)
SELECT a.status, CAST(n AS BIGINT) AS n,
       exact_p50_cents, approx_p50_cents,
       approx_p50_cents - exact_p50_cents AS err_p50_cents,
       exact_p90_cents, approx_p90_cents,
       approx_p90_cents - exact_p90_cents AS err_p90_cents
FROM approx a JOIN exact e ON a.status = e.status ORDER BY a.status
"""


# -- Structured Streaming watermark semantics, under the value-hash oracle
# A REAL streaming run (file source, per-file micro-batches, event-time
# watermark, append mode) whose final output is reproduced row-for-row
# by batch SQL.  This puts the engine's late-data policy — the thing the
# reference lacks entirely (SURVEY §2.9 "Late/out-of-order data") —
# under the same bit-exact oracle as every batch operator.
#
# Determinism: the events table is split into N files by event_id % N
# and the files are given strictly increasing mtimes, so the file source
# (maxFilesPerTrigger=1, oldest-first) admits exactly one known file per
# micro-batch.  Spark's observable watermark semantics were pinned
# empirically (availableNow + noDataMicroBatches, Spark 4.1):
#   * wm(N) — the watermark REPORTED for batch N — is
#     max(ts over batches <= N-1) - delay (0 before any data);
#   * the late-row filter for batch N uses wm(N-1), i.e. data through
#     batch N-2 — one cycle BEHIND the reported watermark: a row is
#     dropped iff its window END <= wm(N-1) (window-end-based, not
#     raw-ts-based; end == wm drops);
#   * append-mode emission: a window reaches the sink iff its end <=
#     final wm (max ts over ALL batches - delay), via the trailing
#     no-data batch; later windows remain in state, never emitted.
# The oracle below is that model verbatim: per-batch maxes, a 2-lagged
# running-max watermark, the end-based keep filter, and the final-
# watermark emission cut.  All arithmetic is epoch-microsecond BIGINT;
# the value sum is the corpus' exact-decimal pattern — so the driver's
# value hash must match, not just row counts.
_WM_N_BATCHES = 4
_WM_WIN_US = 3_600_000_000            # 1-hour tumbling windows
_WM_DELAY_US = 48 * 3_600_000_000     # 48-hour watermark delay


#: Pins spark.sql.shuffle.partitions for a streaming run.  The
#: state-store partition count is frozen at stream start from this conf;
#: under a plain driver session (200) every micro-batch of a
#: corpus-scale stream pays 200 state-store task launches for a few
#: thousand rows.  Output is partition-count-independent (the stream
#: oracles hash-match under any setting); this is purely gate-cost
#: hygiene.  Fresh checkpoints per query call mean no cross-run
#: state-partition mismatch.
_STREAM_SHUFFLE = {"spark.sql.shuffle.partitions": "8"}


def _write_stream_batches(split, src, n_batches, cols):
    """Materialize ``split`` (carrying an int batch column ``b``) as one
    parquet file per batch under ``src`` with strictly increasing mtimes,
    so the file source (maxFilesPerTrigger=1, oldest-first) admits
    exactly batch i in micro-batch i."""
    import os
    for i in range(n_batches):
        d = os.path.join(src, f"b{i}.parquet")
        (split.where(F.col("b") == i).select(*cols)
         .coalesce(1).write.parquet(d))
        mt = 1_000_000 + i * 100                    # strictly increasing
        for root, _, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (mt, mt))
        os.utime(d, (mt, mt))


def events_stream_watermark(spark, sf):
    import os
    import tempfile
    e = load_table(spark, sf, "events").select(
        "ts", "value", (F.col("event_id") % _WM_N_BATCHES).alias("b"))
    tmp = tempfile.mkdtemp(prefix="wm_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    split = e.select("ts", "value", "b")
    _write_stream_batches(split, src, _WM_N_BATCHES, ["ts", "value"])
    schema = split.select("ts", "value").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    agg = (stream.withWatermark("ts", "48 hours")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"))
           .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                   F.col("n_events").cast("bigint").alias("n_events"),
                   "total_value"))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("window_start_us",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    "total_value"))


EVENTS_STREAM_WATERMARK_SQL = f"""
WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value,
                  event_id % {_WM_N_BATCHES} AS b
           FROM events),
bm AS (SELECT b, MAX(tus) AS bmax FROM e GROUP BY b),
wmf AS (SELECT b, COALESCE(MAX(bmax) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
               - {_WM_DELAY_US} AS wm
        FROM bm),
kept AS (SELECT e.tus, e.value
         FROM e JOIN wmf ON e.b = wmf.b
         WHERE (e.tus // {_WM_WIN_US}) * {_WM_WIN_US} + {_WM_WIN_US} > wmf.wm),
fw AS (SELECT MAX(tus) - {_WM_DELAY_US} AS fwm FROM e)
SELECT (tus // {_WM_WIN_US}) * {_WM_WIN_US} AS window_start_us,
       COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
FROM kept, fw
WHERE (tus // {_WM_WIN_US}) * {_WM_WIN_US} + {_WM_WIN_US} <= fw.fwm
GROUP BY 1
"""


# -- SLIDING windows under the value-hash oracle --------------------------
# Same harness and watermark model as events_stream_watermark, with
# OVERLAPPING windows (1 hour, slide 30 min — every event belongs to
# exactly two).  The model extension, pinned empirically
# (test_stream_semantics.test_sliding_window_late_filter_is_per_window):
# the one-cycle-lagged, end-based late filter applies PER (row, window)
# after expansion — a late row is dropped from its older window while
# still counting in its newer one.  The oracle expands each event into
# its two window starts, applies the lagged filter per window, and cuts
# emission at end <= final watermark.
_SL_SLIDE_US = 1_800_000_000          # 30-minute slide


def events_stream_sliding(spark, sf):
    import os
    import tempfile
    e = load_table(spark, sf, "events").select(
        "ts", "value", (F.col("event_id") % _WM_N_BATCHES).alias("b"))
    tmp = tempfile.mkdtemp(prefix="sl_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    _write_stream_batches(e, src, _WM_N_BATCHES, ["ts", "value"])
    schema = e.select("ts", "value").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    agg = (stream.withWatermark("ts", "48 hours")
           .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"))
           .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                   F.col("n_events").cast("bigint").alias("n_events"),
                   "total_value"))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("window_start_us",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    "total_value"))


EVENTS_STREAM_SLIDING_SQL = f"""
WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value,
                  event_id % {_WM_N_BATCHES} AS b
           FROM events),
bm AS (SELECT b, MAX(tus) AS bmax FROM e GROUP BY b),
wmf AS (SELECT b, COALESCE(MAX(bmax) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
               - {_WM_DELAY_US} AS wm
        FROM bm),
x AS (SELECT e.tus, e.value, e.b,
             (e.tus // {_SL_SLIDE_US}) * {_SL_SLIDE_US}
               - o.d * {_SL_SLIDE_US} AS ws
      FROM e CROSS JOIN (VALUES (0), (1)) AS o(d)),
kept AS (SELECT x.ws, x.value FROM x JOIN wmf ON x.b = wmf.b
         WHERE x.ws + {_WM_WIN_US} > wmf.wm),
fw AS (SELECT MAX(tus) - {_WM_DELAY_US} AS fwm FROM e)
SELECT ws AS window_start_us, COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM kept, fw
WHERE ws + {_WM_WIN_US} <= fw.fwm
GROUP BY 1
"""


# -- dropDuplicatesWithinWatermark under the value-hash oracle ------------
# The streaming-native duplicate-delivery gate (streaming/
# stateful.streaming_dedup — the reference's retried-upload protection,
# FIX_DUPLICATE_INSERTS_ON_RETRY.md, in stream form), with its COMPLETE
# observable semantics reproduced by batch SQL.  Empirical pins (same
# harness as events_stream_watermark; Spark 4.1):
#   * a key's row is SUPPRESSED in batch N iff some earlier-emitted row
#     for the key is still in state, i.e. its (event time + delay) >
#     wm(N-1) — the same one-cycle-lagged watermark the late filter
#     uses; state is checked BEFORE the batch's own eviction runs;
#   * suppressed duplicates do NOT extend the state's expiry (the state
#     keeps the EMITTED row's event time);
#   * once the watermark passes the expiry the key's state is evicted
#     and a later duplicate is RE-EMITTED;
#   * the late filter drops rows with ts <= wm(N-1) (raw-ts-based here —
#     there is no window — and one cycle lagged, like aggregation).
# Workload: time-ordered batches (8-day file windows — the realistic
# arrival order) + two duplicate classes: an exact replay landing one
# batch later (same event time — the retry case; always suppressed, and
# the oracle PROVES that rather than assumes it) and a re-stamped replay
# (+6 days event time) landing two batches later — far enough out-of-
# order that, with a 1-day delay, all three fates occur: filter-dropped,
# state-suppressed, and re-emitted-after-eviction.  Chains of three
# occurrences (both classes on one key) exercise the no-expiry-extension
# pin: the third copy is judged against the FIRST emission's state.
_DD_DELAY_US = 86_400_000_000          # 1-day dedup horizon
_DD_DAY_US = 86_400_000_000
_DD_DAY0 = 19723                       # epoch day of 2024-01-01 (fixtures)
_DD_SHIFT_US = 6 * 86_400_000_000      # class-B re-stamp offset


def events_stream_dedup(spark, sf):
    import os
    import tempfile
    e = load_table(spark, sf, "events").select("event_id", "ts", "value")
    nat = e.selectExpr(
        "event_id", "ts", "value",
        f"least(3, greatest(0, (unix_micros(ts) div {_DD_DAY_US} - {_DD_DAY0})"
        f" div 8)) AS b")
    copy_a = (nat.where((F.col("event_id") % 3 == 0) & (F.col("b") <= 2))
              .select("event_id", "ts", "value",
                      (F.col("b") + 1).alias("b")))
    copy_b = (nat.where((F.col("event_id") % 5 == 0) & (F.col("b") <= 1))
              .select("event_id",
                      F.timestamp_micros(
                          F.unix_micros("ts") + F.lit(_DD_SHIFT_US)).alias("ts"),
                      "value", (F.col("b") + 2).alias("b")))
    split = nat.unionByName(copy_a).unionByName(copy_b)
    tmp = tempfile.mkdtemp(prefix="dd_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    _write_stream_batches(split, src, 4, ["event_id", "ts", "value"])
    schema = split.select("event_id", "ts", "value").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    out = (stream.withWatermark("ts", "1 day")
           .dropDuplicatesWithinWatermark(["event_id"])
           .select("event_id", F.unix_micros("ts").alias("tus"), "value"))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("event_id", "tus", "value"))


EVENTS_STREAM_DEDUP_SQL = f"""
WITH e0 AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value
            FROM events),
nat AS (SELECT event_id, tus, value,
               LEAST(3, GREATEST(0, (tus // {_DD_DAY_US} - {_DD_DAY0}) // 8)) AS b,
               0 AS occ
        FROM e0),
ca AS (SELECT event_id, tus, value, b + 1 AS b, 1 AS occ FROM nat
       WHERE event_id % 3 = 0 AND b <= 2),
cb AS (SELECT event_id, tus + {_DD_SHIFT_US} AS tus, value, b + 2 AS b, 2 AS occ
       FROM nat WHERE event_id % 5 = 0 AND b <= 1),
allr AS (SELECT * FROM nat UNION ALL SELECT * FROM ca UNION ALL SELECT * FROM cb),
bm AS (SELECT b, MAX(tus) AS bmax FROM allr GROUP BY b),
wmf AS (SELECT b, COALESCE(MAX(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND 2 PRECEDING), 0) - {_DD_DELAY_US} AS wm
        FROM bm),
r AS (SELECT a.event_id, a.tus, a.value, a.occ, w.wm
      FROM allr a JOIN wmf w ON a.b = w.b),
j AS (SELECT k1.event_id, k1.value,
             k1.tus AS t1, k1.wm AS w1,
             k2.tus AS t2, k2.wm AS w2,
             k3.tus AS t3, k3.wm AS w3
      FROM (SELECT * FROM r WHERE occ = 0) k1
      LEFT JOIN (SELECT * FROM r WHERE occ = 1) k2 USING (event_id)
      LEFT JOIN (SELECT * FROM r WHERE occ = 2) k3 USING (event_id)),
f AS (SELECT *,
             (t1 > w1) AS e1,
             (t2 IS NOT NULL AND t2 > w2
              AND NOT ((t1 > w1) AND t1 + {_DD_DELAY_US} > w2)) AS e2
      FROM j),
g AS (SELECT *,
             (t3 IS NOT NULL AND t3 > w3
              AND NOT (e1 AND t1 + {_DD_DELAY_US} > w3)
              AND NOT (e2 AND t2 + {_DD_DELAY_US} > w3)) AS e3
      FROM f)
SELECT event_id, t1 AS tus, value FROM g WHERE e1
UNION ALL SELECT event_id, t2 AS tus, value FROM g WHERE e2
UNION ALL SELECT event_id, t3 AS tus, value FROM g WHERE e3
"""


# -- streaming SESSION windows under the value-hash oracle ----------------
# The third member of the streaming-oracle family (tumbling aggregation,
# dedup gate, and now gap sessions): keyed event-time session windows
# with a watermark, run as a REAL stream over time-ordered per-file
# batches, reproduced by batch SQL.  What the stream must get right and
# the oracle checks:
#   * cross-batch session-state MERGING — with a 12-hour gap, sessions
#     genuinely straddle the 8-day file boundaries (sf0.01: 139
#     straddlers of 3292 sessions), so their early rows sit in the
#     state store across a micro-batch boundary and must fuse with
#     rows arriving one (or more) batches later;
#   * the append-mode emission cut — a session reaches the sink iff its
#     end (last event + gap) <= final watermark; the trailing ~day of
#     sessions stays in state, never emitted (sf0.01: 217 withheld).
# Time-ordered arrival means the late filter provably drops nothing
# (every row's ts is ~7 days ahead of the two-batch-lagged watermark),
# so the oracle is plain per-user gap islands + the emission cut.  The
# adversarial corner — a late row landing inside the gap of an
# ALREADY-EMITTED session becoming a standalone overlapping session —
# is deliberately kept out of the data (it has no closed-form SQL model
# under chained merges) and is pinned instead in
# tests/test_stream_semantics.py.
_SW_GAP_US = 12 * 3_600_000_000


def events_stream_sessions(spark, sf):
    import os
    import tempfile
    e = load_table(spark, sf, "events").select("user_id", "ts")
    split = e.selectExpr(
        "user_id", "ts",
        f"least(3, greatest(0, (unix_micros(ts) div {_DD_DAY_US} - {_DD_DAY0})"
        f" div 8)) AS b")
    tmp = tempfile.mkdtemp(prefix="sw_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    _write_stream_batches(split, src, 4, ["user_id", "ts"])
    schema = split.select("user_id", "ts").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    agg = (stream.withWatermark("ts", "1 day")
           .groupBy("user_id", F.session_window("ts", "12 hours").alias("s"))
           .agg(F.count(F.lit(1)).alias("n_events"))
           .select("user_id",
                   F.unix_micros(F.col("s.start")).alias("session_start_us"),
                   F.unix_micros(F.col("s.end")).alias("session_end_us"),
                   F.col("n_events").cast("bigint").alias("n_events")))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("user_id", "session_start_us", "session_end_us",
                    "n_events"))


EVENTS_STREAM_SESSIONS_SQL = f"""
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
s AS (SELECT user_id, tus,
             CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus)
                       >= {_SW_GAP_US} THEN 1 ELSE 0 END AS brk
      FROM e),
g AS (SELECT user_id, tus,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tus) AS sid
      FROM s),
sess AS (SELECT user_id, MIN(tus) AS session_start_us,
                MAX(tus) + {_SW_GAP_US} AS session_end_us,
                COUNT(*) AS n_events
         FROM g GROUP BY user_id, sid),
fw AS (SELECT MAX(tus) - {_DD_DELAY_US} AS fwm FROM e)
SELECT user_id, session_start_us, session_end_us, n_events
FROM sess, fw WHERE session_end_us <= fw.fwm
"""


# -- the custom Python-state operator under the value-hash oracle ---------
# streaming/stateful.stateful_last_value is the engine's ONE custom
# stateful operator (applyInPandasWithState — the pure-streaming
# changelog variant of the CDC pipeline, SURVEY §2.9).  This query runs
# it as a real update-mode stream over per-file batches and reproduces
# its full changelog in batch SQL.
#
# Emission contract (from the operator's code, stateful.py:73-101): for
# every (key, batch) where the key has input rows, emit ONE row with
# the state AFTER folding that batch — the winner over ALL rows of the
# key in batches <= N by (version, op-rank), the first two dedup-cascade
# levels.  (user_id, ts) is verified unique at every testdata scale
# (0 duplicate pairs at sf0.001/0.01/0.1), so the winner is total-order
# unique and the fold is arrival-order-independent — the determinism
# precondition for hashing a changelog that includes re-emissions of
# unchanged state.  The winner's payload travels as the operator's real
# JSON payload; the oracle-compared columns are re-extracted TYPED
# (get_json_object -> DOUBLE/INT round-trips exactly), never compared
# as JSON text.
def cdc_stream_changelog(spark, sf):
    import os
    import tempfile

    from ..streaming.stateful import stateful_last_value
    e = load_table(spark, sf, "events")
    split = e.selectExpr(
        "user_id", "ts AS load_timestamp", "value",
        "CASE WHEN event_type = 'error' THEN 'D' "
        "WHEN event_type = 'purchase' THEN 'U' ELSE 'I' END AS Op",
        "CAST(event_id % 4 AS INT) AS b")
    tmp = tempfile.mkdtemp(prefix="chlog_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    _write_stream_batches(split, src, 4,
                          ["user_id", "load_timestamp", "value", "Op", "b"])
    schema = split.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    chlog = stateful_last_value(stream, key="user_id")
    name = "chlog_" + os.path.basename(tmp).split("_")[-1]
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (chlog.writeStream.outputMode("update").format("memory")
             .queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.table(name)
            .selectExpr("user_id", "version_us", "deleted",
                        "CAST(get_json_object(payload, '$.value') AS DOUBLE)"
                        " AS value",
                        "CAST(get_json_object(payload, '$.b') AS INT)"
                        " AS winner_b"))


CDC_STREAM_CHANGELOG_SQL = """
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ver, value,
                  CAST(event_id % 4 AS INTEGER) AS b,
                  CASE WHEN event_type = 'error' THEN 'D'
                       WHEN event_type = 'purchase' THEN 'U'
                       ELSE 'I' END AS op
           FROM events),
pres AS (SELECT DISTINCT user_id, b FROM e),
w AS (SELECT p.user_id, p.b AS eb, e.ver, e.value, e.b AS wb, e.op,
             ROW_NUMBER() OVER (
               PARTITION BY p.user_id, p.b
               ORDER BY e.ver DESC,
                        CASE e.op WHEN 'D' THEN 3 WHEN 'U' THEN 2
                                  WHEN 'I' THEN 1 ELSE 0 END DESC) AS rn
      FROM pres p JOIN e ON e.user_id = p.user_id AND e.b <= p.b)
SELECT user_id, ver AS version_us, (op = 'D') AS deleted, value,
       wb AS winner_b
FROM w WHERE rn = 1
"""


# -- ordered funnel analysis (composed forward as-of joins) ---------------
# The classic product-analytics operator: per user, the first 'view',
# then the earliest 'signup' at-or-after it within 7 days, then the
# earliest 'purchase' at-or-after THAT within 7 days.  Spark side
# composes the forward as-of operator twice (each = ONE key-shuffle
# union+carry window, operators/asof.py — never an inequality self-join);
# the cap is applied after the carry (earliest-overall > cap <=> none
# within cap).  The oracle restates each step as a bounded MIN — an
# independent formulation.  (user_id, ts) is tie-free at all fixture
# scales, so every step is total-order deterministic.
_FUNNEL_GAP_US = 7 * 86_400_000_000


def events_funnel_steps(spark, sf):
    from ..operators.asof import asof_join
    e = (load_table(spark, sf, "events")
         .select("user_id", F.unix_micros("ts").alias("tus"), "event_type"))
    v = (e.where("event_type = 'view'")
         .groupBy("user_id").agg(F.min("tus").alias("v_us")))
    signups = e.where("event_type = 'signup'").select(
        "user_id", F.col("tus").alias("s_ts"), F.col("tus").alias("s_val"))
    s = (asof_join(v, signups, on="user_id", left_ts="v_us",
                   right_ts="s_ts", right_payload=["s_val"],
                   direction="forward")
         .withColumn("s_us", F.when(
             F.col("s_val") <= F.col("v_us") + _FUNNEL_GAP_US,
             F.col("s_val")))
         .select("user_id", "v_us", "s_us")
         # materialize the first funnel step ONCE (round 13): `s` feeds
         # both the second as-of's left side (filtered) and the final
         # left join, and the not-null pushdown makes the two subtrees
         # canonically different — runtime exchange reuse does NOT fire
         # (verified on the executed plan), so without this pin the
         # view→signup step (scan + agg exchange + carry window)
         # computed twice per run.  Per-invocation and user-level-sized;
         # results are bit-identical (re-proven vs the DuckDB oracle).
         .localCheckpoint(eager=True))
    purchases = e.where("event_type = 'purchase'").select(
        "user_id", F.col("tus").alias("p_ts"), F.col("tus").alias("p_val"))
    withp = (asof_join(s.where(F.col("s_us").isNotNull()), purchases,
                       on="user_id", left_ts="s_us", right_ts="p_ts",
                       right_payload=["p_val"], direction="forward")
             .withColumn("p_us", F.when(
                 F.col("p_val") <= F.col("s_us") + _FUNNEL_GAP_US,
                 F.col("p_val")))
             .select("user_id", "p_us"))
    return (s.join(withp, "user_id", "left")
            .select("user_id", "v_us", "s_us", "p_us",
                    (F.lit(1) + F.col("s_us").isNotNull().cast("int")
                     + F.col("p_us").isNotNull().cast("int"))
                    .cast("bigint").alias("steps_completed")))


EVENTS_FUNNEL_STEPS_SQL = f"""
WITH e AS (SELECT user_id, EPOCH_US(CAST(ts AS TIMESTAMP)) AS tus, event_type
           FROM events),
v AS (SELECT user_id, MIN(tus) AS v_us FROM e
      WHERE event_type = 'view' GROUP BY user_id),
s AS (SELECT v.user_id, v.v_us,
             MIN(CASE WHEN e.event_type = 'signup' AND e.tus >= v.v_us
                       AND e.tus <= v.v_us + {_FUNNEL_GAP_US}
                      THEN e.tus END) AS s_us
      FROM v LEFT JOIN e ON e.user_id = v.user_id
      GROUP BY v.user_id, v.v_us),
p AS (SELECT s.user_id, s.s_us,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.tus >= s.s_us
                       AND e.tus <= s.s_us + {_FUNNEL_GAP_US}
                      THEN e.tus END) AS p_us
      FROM s LEFT JOIN e ON e.user_id = s.user_id AND s.s_us IS NOT NULL
      GROUP BY s.user_id, s.s_us)
SELECT s.user_id, s.v_us, s.s_us, p.p_us,
       CAST(1 + (s.s_us IS NOT NULL)::INT + (p.p_us IS NOT NULL)::INT
            AS BIGINT) AS steps_completed
FROM s LEFT JOIN p ON p.user_id = s.user_id
"""


# -- stream-STREAM join under the value-hash oracle -----------------------
# The last uncovered Structured-Streaming operator family: a watermarked
# stream-stream INNER join with an event-time range condition (views
# joined to the user's purchases within the following 24 hours), run as
# a REAL two-source stream over time-ordered per-file batches.  What the
# state machine must get right and the oracle checks:
#   * cross-batch matches THROUGH the join state store — a view near the
#     end of file-batch i matches a purchase arriving in batch i+1
#     (sf0.01: 38 of 831 pairs), so the view row must be retained in
#     state and joined a trigger later;
#   * exactly-once pair emission — no pair duplicated across triggers,
#     none dropped by premature state eviction.  With 8-day batch
#     windows, a 2-day watermark delay, and a 24-hour join range, the
#     eviction frontier (wm - range) provably trails every row still
#     able to match, so the stream must equal the PLAIN batch
#     inequality join — which is exactly the oracle.  Any eager state
#     cleanup, late-filter overreach, or double emission hash-
#     mismatches here.
def _run_stream_join(spark, sf, how):
    import os
    import tempfile
    e = load_table(spark, sf, "events")
    bexpr = (f"least(3, greatest(0, (unix_micros(ts) div {_DD_DAY_US}"
             f" - {_DD_DAY0}) div 8)) AS b")
    views = e.where("event_type = 'view'").selectExpr(
        "user_id", "event_id AS view_id", "ts AS v_ts", bexpr)
    purch = e.where("event_type = 'purchase'").selectExpr(
        "user_id AS p_user_id", "event_id AS purchase_id", "ts AS p_ts",
        "value", bexpr)
    tmp = tempfile.mkdtemp(prefix="ssj_stream_q_")   # left for OS cleanup
    vsrc, psrc = os.path.join(tmp, "views"), os.path.join(tmp, "purch")
    _write_stream_batches(views, vsrc, 4, ["user_id", "view_id", "v_ts"])
    _write_stream_batches(purch, psrc, 4,
                          ["p_user_id", "purchase_id", "p_ts", "value"])

    def _src(path, schema):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .option("recursiveFileLookup", "true")
                .parquet(path))

    vs = _src(vsrc, views.drop("b").schema).withWatermark("v_ts", "2 days")
    ps = _src(psrc, purch.drop("b").schema).withWatermark("p_ts", "2 days")
    j = (vs.join(ps, F.expr(
            "user_id = p_user_id AND p_ts >= v_ts "
            "AND p_ts < v_ts + INTERVAL 24 HOURS"), how)
         # full_outer's unmatched-RIGHT rows have a null left key;
         # surface the real user id from whichever side is present
         .select(F.coalesce("user_id", "p_user_id").alias("user_id"),
                 "view_id", "purchase_id",
                 F.unix_micros("v_ts").alias("view_us"),
                 F.unix_micros("p_ts").alias("purchase_us"), "value"))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (j.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("user_id", "view_id", "purchase_id", "view_us",
                    "purchase_us", "value"))


def events_stream_join(spark, sf):
    return _run_stream_join(spark, sf, "inner")


# -- stream-stream LEFT OUTER join under the value-hash oracle ------------
# The outer variant adds the watermark-closure emission rule, pinned
# empirically (test_stream_semantics.test_stream_stream_outer_join_pins):
# an UNMATCHED left row emits its null-padded row only once its join
# window [v_ts, v_ts + range) has closed below the FINAL watermark —
# which is the MIN across sides of (side's own max event time) - delay.
# Views in the trailing window stay in state, never emitted.  Matched
# pairs emit exactly as the inner join.  The oracle states both rules
# directly (NOT EXISTS + the closure cut); the fixtures sit nowhere
# near the <=-vs-< closure boundary, so the row is deterministic.
def events_stream_join_outer(spark, sf):
    return _run_stream_join(spark, sf, "left_outer")


EVENTS_STREAM_JOIN_OUTER_SQL = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
v AS (SELECT user_id, event_id AS view_id, EPOCH_US(ts) AS view_us
      FROM e WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, EPOCH_US(ts) AS purchase_us,
             value
      FROM e WHERE event_type = 'purchase'),
fw AS (SELECT LEAST((SELECT MAX(view_us) FROM v),
                    (SELECT MAX(purchase_us) FROM p))
              - 172800000000 AS fwm)
SELECT v.user_id, view_id, purchase_id, view_us, purchase_us, value
FROM v JOIN p ON v.user_id = p.user_id
             AND purchase_us >= view_us
             AND purchase_us < view_us + 86400000000
UNION ALL
SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS purchase_id,
       v.view_us, CAST(NULL AS BIGINT) AS purchase_us,
       CAST(NULL AS DOUBLE) AS value
FROM v, fw
WHERE NOT EXISTS (SELECT 1 FROM p
                  WHERE p.user_id = v.user_id
                    AND p.purchase_us >= v.view_us
                    AND p.purchase_us < v.view_us + 86400000000)
  AND v.view_us + 86400000000 <= fw.fwm
"""


EVENTS_STREAM_JOIN_SQL = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
v AS (SELECT user_id, event_id AS view_id, EPOCH_US(ts) AS view_us
      FROM e WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, EPOCH_US(ts) AS purchase_us,
             value
      FROM e WHERE event_type = 'purchase')
SELECT v.user_id, view_id, purchase_id, view_us, purchase_us, value
FROM v JOIN p ON v.user_id = p.user_id
             AND purchase_us >= view_us
             AND purchase_us < view_us + 86400000000
"""


# -- stream-stream FULL OUTER join under the value-hash oracle ------------
# The third join mode.  Null-emission rules, pinned empirically
# (test_stream_semantics.test_stream_stream_full_outer_pins):
#   * matched pairs emit as inner;
#   * an unmatched LEFT (view) emits its null row when its join window
#     [v, v + range) closes below the final watermark (v + range <= fwm
#     — same rule as left_outer);
#   * an unmatched RIGHT (purchase) emits when no future left can match
#     it: its candidate lefts satisfy v <= p, so the state closes when
#     the watermark passes p itself (p < fwm — strict: a purchase AT
#     the frontier is withheld);
#   * fwm is the min across sides of each side's own max minus delay.
# The fixtures sit nowhere near either boundary, so the row is
# deterministic at every scale.
def events_stream_join_full(spark, sf):
    return _run_stream_join(spark, sf, "full_outer")


EVENTS_STREAM_JOIN_FULL_SQL = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
v AS (SELECT user_id, event_id AS view_id, EPOCH_US(ts) AS view_us
      FROM e WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, EPOCH_US(ts) AS purchase_us,
             value
      FROM e WHERE event_type = 'purchase'),
fw AS (SELECT LEAST((SELECT MAX(view_us) FROM v),
                    (SELECT MAX(purchase_us) FROM p))
              - 172800000000 AS fwm)
SELECT v.user_id, view_id, purchase_id, view_us, purchase_us, value
FROM v JOIN p ON v.user_id = p.user_id
             AND purchase_us >= view_us
             AND purchase_us < view_us + 86400000000
UNION ALL
SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT), v.view_us,
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM v, fw
WHERE NOT EXISTS (SELECT 1 FROM p
                  WHERE p.user_id = v.user_id
                    AND p.purchase_us >= v.view_us
                    AND p.purchase_us < v.view_us + 86400000000)
  AND v.view_us + 86400000000 <= fw.fwm
UNION ALL
SELECT p.user_id, CAST(NULL AS BIGINT), p.purchase_id,
       CAST(NULL AS BIGINT), p.purchase_us, p.value
FROM p, fw
WHERE NOT EXISTS (SELECT 1 FROM v
                  WHERE v.user_id = p.user_id
                    AND p.purchase_us >= v.view_us
                    AND p.purchase_us < v.view_us + 86400000000)
  AND p.purchase_us < fw.fwm
"""


# -- cohort retention matrix ----------------------------------------------
# The product-analytics staple next to sessionization and funnels:
# bucket users by their FIRST-active day (the cohort), then count how
# many of each cohort return k days later.  Days are absolute epoch
# days (unix_micros DIV 86400000000 — pure BIGINT arithmetic, no
# calendar/timezone semantics to diverge on).  Daily granularity is
# what binds on the fixtures: the event stream opens with a ramp-up, so
# sf0.01 has 2 distinct first-active days and sf0.1 has 4 (weekly
# cohorts would collapse to one).  Plan shape: the cohort (per-user MIN
# day) is a window over the user_id exchange, and the re-aggregation by
# (cohort_day, day_offset) groups the SAME rows — one shuffle on
# user_id + one small re-agg exchange whose key space is O(days^2),
# map-side combined.  No join: the window carries the cohort to every
# row, so the 100 TB shape is scan + two exchanges (the second over a
# few thousand groups) regardless of user count.
_DAY_US = 24 * 3600 * 1_000_000


def events_retention_cohorts(spark, sf):
    e = (load_table(spark, sf, "events")
         .selectExpr("user_id", f"unix_micros(ts) DIV {_DAY_US} AS d"))
    w = Window.partitionBy("user_id")
    c = e.withColumn("cohort_day", F.min("d").over(w))
    return (c.groupBy(F.col("cohort_day").cast("bigint").alias("cohort_day"),
                      (F.col("d") - F.col("cohort_day")).cast("bigint")
                      .alias("day_offset"))
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


EVENTS_RETENTION_COHORTS_SQL = f"""
WITH e AS (SELECT user_id, EPOCH_US(ts) // {_DAY_US} AS d
           FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)),
c AS (SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_day
      FROM e)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       CAST(d - cohort_day AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) AS n_events
FROM c GROUP BY 1, 2
"""


# -- stream-STATIC enrichment join under the value-hash oracle ------------
# The most common production streaming shape — a dimension lookup on a
# stream (enrich each event with a static attribute, then window-
# aggregate per attribute) — completing the streaming join family next
# to the stream-stream inner/left/full rows.  Semantics: the join is
# STATELESS (each micro-batch joins the static snapshot; no join state,
# no watermark interaction from the static side).  withWatermark is
# applied on the stream BEFORE the join, so ALL stream rows advance the
# watermark — including rows the inner join then drops (user_id 0 has
# no customer row; putting the watermark after the join would let
# unmatched rows' event times vanish from the frontier).  The windowed
# aggregation then follows the empirically pinned model verbatim
# (one-cycle-lagged, window-END-based late filter; end <= final-wm
# emission): the oracle is EVENTS_STREAM_WATERMARK_SQL's CTE chain with
# the dimension join applied to the kept rows and the segment added to
# the group key.  Scale shape: the static dim is broadcast per
# micro-batch (dims are metadata-sized next to a 100 TB stream); state
# is bounded by open windows x segments.
def events_stream_static_enrich(spark, sf):
    import os
    import tempfile
    e = load_table(spark, sf, "events").select(
        "user_id", "ts", "value", (F.col("event_id") % _WM_N_BATCHES).alias("b"))
    cust = (load_table(spark, sf, "customer")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    tmp = tempfile.mkdtemp(prefix="ss_stream_q_")   # left for OS cleanup
    src = os.path.join(tmp, "src")
    _write_stream_batches(e, src, _WM_N_BATCHES, ["user_id", "ts", "value"])
    schema = e.select("user_id", "ts", "value").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true")
              .parquet(src))
    joined = (stream.withWatermark("ts", "48 hours")
              .join(F.broadcast(cust), "user_id"))      # stateless dim join
    agg = (joined.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"))
           .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                   F.col("c_mktsegment").alias("segment"),
                   F.col("n_events").cast("bigint").alias("n_events"),
                   "total_value"))
    sink = os.path.join(tmp, "sink")
    with conf_scope(spark, **_STREAM_SHUFFLE):
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
    return (spark.read.parquet(sink)
            .select("window_start_us", "segment",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    "total_value"))


EVENTS_STREAM_STATIC_ENRICH_SQL = f"""
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value,
                  event_id % {_WM_N_BATCHES} AS b
           FROM events),
bm AS (SELECT b, MAX(tus) AS bmax FROM e GROUP BY b),
wmf AS (SELECT b, COALESCE(MAX(bmax) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
               - {_WM_DELAY_US} AS wm
        FROM bm),
kept AS (SELECT e.user_id, e.tus, e.value
         FROM e JOIN wmf ON e.b = wmf.b
         WHERE (e.tus // {_WM_WIN_US}) * {_WM_WIN_US} + {_WM_WIN_US} > wmf.wm),
fw AS (SELECT MAX(tus) - {_WM_DELAY_US} AS fwm FROM e)
SELECT (k.tus // {_WM_WIN_US}) * {_WM_WIN_US} AS window_start_us,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
FROM kept k JOIN customer c ON k.user_id = c.c_custkey, fw
WHERE (k.tus // {_WM_WIN_US}) * {_WM_WIN_US} + {_WM_WIN_US} <= fw.fwm
GROUP BY 1, 2
"""


# -- exact-integer EWMA smoothing (time-series family) --------------------
# Exponentially-weighted moving average of per-user event values —
# the smoothing primitive next to lead/lag, sessionization, and the
# retention/Markov rows.  Determinism is the interesting part: a float
# EWMA recurrence is order-of-operations-dependent, but alpha = 1/2
# over a bounded 20-row frame makes everything EXACT INTEGERS — the
# fold num = num*2 + x over the frame (oldest -> newest) yields
# weights 2^j (newest ~ half the mass, pandas ewm(adjust=True)
# semantics), den = 2^n - 1, both BIGINT-exact (cents * 2^19 * 20
# ~ 5e14 < 2^53), and the single final division is correctly rounded.
# The ORACLE derives the same ratio via a completely different route —
# a rn-bounded self-join with weights 2^(19-d), a fixed 2^s rescaling
# of BOTH terms that cancels exactly in the division — so the check is
# an independent second derivation, not a restatement.  Scale shape:
# Spark side is ONE user_id window exchange + a codegen fold (no
# join); the O(20x) pair expansion exists only on the oracle side.
# fold NEWEST-first (reverse of the frame's oldest->newest order): the
# k-th element folded lands with weight 2^(n-1-k), so the newest row
# carries 2^(n-1) — half the total mass — and the oldest carries 2^0
_EWMA_FOLD = (
    "aggregate(reverse(vals), "
    "struct(CAST(0 AS BIGINT) AS num, CAST(0 AS BIGINT) AS den), "
    "(acc, x) -> struct(acc.num * 2 + x, acc.den * 2 + 1))")


def events_ewma_smoothing(spark, sf):
    e = (load_table(spark, sf, "events")
         .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus",
                     "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
                     " AS cents"))
    w = (Window.partitionBy("user_id").orderBy("tus", "event_id")
         .rowsBetween(-19, 0))
    return (e.withColumn("vals", F.collect_list("cents").over(w))
            .selectExpr("user_id", "event_id", "tus", "cents",
                        f"CAST(({_EWMA_FOLD}).num AS DOUBLE)"
                        f" / ({_EWMA_FOLD}).den AS ewma_cents"))


EVENTS_EWMA_SMOOTHING_SQL = """
WITH e AS (SELECT user_id, event_id, EPOCH_US(ts) AS tus,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY tus, event_id) AS rn FROM e)
SELECT a.user_id, a.event_id, a.tus, a.cents,
       CAST(SUM(b.cents * (CAST(1 AS BIGINT) << (19 - (a.rn - b.rn)))) AS DOUBLE)
         / SUM(CAST(1 AS BIGINT) << (19 - (a.rn - b.rn))) AS ewma_cents
FROM r a JOIN r b
  ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
GROUP BY a.user_id, a.event_id, a.tus, a.cents
"""


# -- Markov transition matrix (next-event behavioral model) ---------------
# The first-order Markov estimate behind "what do users do next":
# per-user event sequences (total-ordered by ts, event_id) yield
# from->to transition counts via ONE lead() over the user_id exchange;
# the row-normalized probability is count / outgoing-total — integer
# counts and a single IEEE division, bit-exact.  The per-from totals
# ride a tiny window over the |event_types|^2 aggregate (no second
# scan, no join).  Scale: the sequence window is the same single
# exchange as sessionization; the transition matrix is O(types^2) rows
# regardless of corpus size.
def events_markov_transitions(spark, sf):
    e = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("to_type", F.lead("event_type").over(w))
             .where(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy(F.col("event_type").alias("from_type"), "to_type")
              .agg(F.count(F.lit(1)).alias("n_transitions")))
    tot = Window.partitionBy("from_type")
    return (counts.withColumn("from_total",
                              F.sum("n_transitions").over(tot))
            .selectExpr("from_type", "to_type", "n_transitions",
                        "from_total",
                        "CAST(n_transitions AS DOUBLE) / from_total"
                        " AS probability"))


EVENTS_MARKOV_TRANSITIONS_SQL = """
WITH e AS (SELECT user_id, ts, event_id, event_type
           FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)),
p AS (SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM e),
c AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_transitions,
       CAST(SUM(n_transitions) OVER (PARTITION BY from_type)
            AS BIGINT) AS from_total,
       CAST(n_transitions AS DOUBLE)
         / SUM(n_transitions) OVER (PARTITION BY from_type) AS probability
FROM c
"""


# -- grouped OLS trend + Pearson correlation (in-database regression) -----
# The drift-trend primitive: fit price-over-time per order priority with
# ordinary least squares and report the correlation strength — entirely
# as ONE map-side-combined groupBy.  Exactness: x = epoch day (BIGINT),
# y = price cents (exact via the corpus-wide DECIMAL(18,2) pattern);
# the five moment sums (Sx, Sy, Sxy, Sxx, Syy) accumulate as
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact and associative, so
# partitioning cannot change them, and Syy ~ 7.5e19 at sf0.1 would
# already overflow a BIGINT accumulator (the 128-bit sums are the scale
# story, not a nicety).  The closed-form statistics are then fixed
# expression trees of exactly-rounded IEEE ops (casts, one division
# each, sqrt is correctly rounded) on identical integers — bit-exact
# cross-engine.  Plan: scan + ONE exchange over a handful of groups.
def orders_trend_ols(spark, sf):
    o = load_table(spark, sf, "orders")
    pts = o.selectExpr(
        "o_orderpriority AS grp",
        "unix_micros(o_orderdate) DIV 86400000000 AS x",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y")
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"))
    slope = ("CAST(n*sxy - sx*sy AS DOUBLE)"
             " / CAST(n*sxx - sx*sx AS DOUBLE)")
    # degenerate-group guard (exact integer predicate, identical in the
    # oracle): a group with one point — or all points on one day — has
    # zero x-variance and the closed forms would divide by zero
    s = s.where("n*sxx - sx*sx != 0 AND n*syy - sy*sy != 0")
    return s.selectExpr(
        "grp", "CAST(n AS BIGINT) AS n_orders",
        f"{slope} AS slope_cents_per_day",
        f"(CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE) AS intercept_cents",
        "CAST(n*sxy - sx*sy AS DOUBLE)"
        " / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))"
        " * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS pearson_r")


_OLS_SLOPE_DUCK = ("CAST(n*sxy - sx*sy AS DOUBLE)"
                   " / CAST(n*sxx - sx*sx AS DOUBLE)")
ORDERS_TREND_OLS_SQL = f"""
WITH pts AS (SELECT o_orderpriority AS grp,
                    EPOCH_US(o_orderdate) // 86400000000 AS x,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
             FROM orders),
s AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x*y) AS HUGEINT) AS sxy,
             CAST(SUM(x*x) AS HUGEINT) AS sxx,
             CAST(SUM(y*y) AS HUGEINT) AS syy
      FROM pts GROUP BY grp)
SELECT grp, CAST(n AS BIGINT) AS n_orders,
       {_OLS_SLOPE_DUCK} AS slope_cents_per_day,
       (CAST(sy AS DOUBLE) - ({_OLS_SLOPE_DUCK}) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents,
       CAST(n*sxy - sx*sy AS DOUBLE)
         / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
            * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS pearson_r
FROM s
WHERE n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0
"""


QUERIES = {
    "events_lead_lag_gaps": Query(
        events_lead_lag_gaps, EVENTS_LEAD_LAG_SQL,
        "lead/lag inter-event gaps + IGNORE-NULLS carry-forward"),
    "window_range_frame": Query(
        window_range_frame, WINDOW_RANGE_FRAME_SQL,
        "value-based RANGE frame: trailing-30-day decimal-exact sum"),
    "sql_surface_listagg": Query(
        sql_surface_listagg, SQL_SURFACE_LISTAGG_SQL,
        "ordered distinct STRING_AGG/LISTAGG surface"),
    "q4_order_priority": Query(q4_order_priority, Q4_SQL,
                               "EXISTS semi-join with inequality + agg"),
    "q6_forecast_revenue": Query(q6_forecast_revenue, Q6_SQL,
                                 "selective filter + global agg (pushdown showcase)"),
    "q7_volume_shipping": Query(q7_volume_shipping, Q7_SQL,
                                "bilateral nation-pair revenue by year"),
    "q8_market_share": Query(q8_market_share, Q8_SQL,
                             "nation market share: conditional ratio over 6-way join"),
    "q9_product_profit": Query(q9_product_profit, Q9_SQL,
                               "LIKE-filtered part join, nation x year rollup"),
    "q12_shipping_delay_classes": Query(q12_shipping_delay_classes, Q12_SQL,
                                        "CASE-bucketed conditional counts over join"),
    "q13_customer_distribution": Query(q13_customer_distribution, Q13_SQL,
                                       "left-outer count + distribution re-group"),
    "q21_sole_supplier_multi_line": Query(q21_sole_supplier_multi_line, Q21_SQL,
                                          "EXISTS + NOT EXISTS double correlation"),
    "q15_top_supplier": Query(q15_top_supplier, Q15_SQL,
                              "scalar-max subquery with exact decimal compare"),
    "q17_small_quantity_revenue": Query(q17_small_quantity_revenue, Q17_SQL,
                                        "correlated per-part AVG in exact integer form"),
    "q14_promo_revenue": Query(q14_promo_revenue, Q14_SQL,
                               "conditional agg over broadcast join (ratio)"),
    "q18_large_orders": Query(q18_large_orders, Q18_SQL,
                              "HAVING subquery + join + top-k"),
    "q19_disjunctive_revenue": Query(q19_disjunctive_revenue, Q19_SQL,
                                     "disjunctive multi-column predicates"),
    "q22_idle_rich_customers": Query(q22_idle_rich_customers, Q22_SQL,
                                     "scalar subquery + anti-join + agg"),
    "grouping_sets_status_priority": Query(
        grouping_sets_status_priority, GROUPING_SETS_SQL,
        "GROUPING SETS (distinct from cube/rollup)"),
    "cube_status_priority": Query(cube_status_priority, CUBE_SQL,
                                  "CUBE over two dimensions"),
    "argmax_order_per_customer": Query(argmax_order_per_customer, ARGMAX_SQL,
                                       "arg-max per group via struct max"),
    "gapfill_monthly_orders": Query(gapfill_monthly_orders, GAPFILL_SQL,
                                    "gap-filled monthly resample"),
    "range_join_event_pairs": Query(range_join_event_pairs, RANGE_JOIN_EVENT_PAIRS_SQL,
                                    "bounded range join (bucketed, custom operator)"),
    "asof_event_last_order": Query(asof_event_last_order, ASOF_EVENT_LAST_ORDER_SQL,
                                   "as-of join (custom operator, union+carry window)"),
    "window_rank_family": Query(window_rank_family, WINDOW_RANK_FAMILY_SQL,
                                "rank/dense_rank/first_value window family"),
    "window_moving_frame": Query(window_moving_frame, WINDOW_MOVING_FRAME_SQL,
                                 "ROWS-BETWEEN moving sum/avg + lead gap"),
    "events_hourly_tumbling": Query(events_hourly_tumbling, EVENTS_HOURLY_TUMBLING_SQL,
                                    "tumbling 1h window agg (batch form of streaming window)"),
    "scalar_datetime_showcase": Query(scalar_datetime_showcase, SCALAR_DATETIME_SQL,
                                      "calendar arithmetic + string scalar family"),
    "window_distribution_family": Query(
        window_distribution_family, WINDOW_DISTRIBUTION_SQL,
        "ntile/percent_rank/cume_dist distribution family"),
    "q1_pricing_summary": Query(q1_pricing_summary, Q1_SQL,
                                "scan + grouped multi-agg (A3/A4 shape at scale)"),
    "q3_shipping_priority": Query(q3_shipping_priority, Q3_SQL,
                                  "selective join + top-k (J1, O2)"),
    "q5_nation_revenue": Query(q5_nation_revenue, Q5_SQL,
                               "multi-way join, broadcast dims (J1)"),
    "q10_returned_items": Query(q10_returned_items, Q10_SQL,
                                "returned-items report: selective multi-join top-k"),
    "window_topn_per_segment": Query(window_topn_per_segment, WINDOW_TOPN_SQL,
                                     "window rank per group (W1 analytic form)"),
    "events_sessionization": Query(events_sessionization, EVENTS_SESSIONIZATION_SQL,
                                   "gap sessionization: lag + running sum"),
    # appended at the END of the module dict (gate-composition rule,
    # corpus/__init__.py): new queries must not shift the pinned first 50
    "events_distinct_sketch_audit": Query(
        events_distinct_sketch_audit, EVENTS_DISTINCT_SKETCH_SQL,
        "linear-counting cardinality sketch audit: bitmap occupancy vs "
        "exact distinct across three bitmap sizes, all-integer"),
    "join_bloom_filter_audit": Query(
        join_bloom_filter_audit, JOIN_BLOOM_FILTER_SQL,
        "Bloom-filter membership sketch audit: k=3 polynomial hashes, "
        "false-positive count over true non-members per bitmap size"),
    "events_hll_register_audit": Query(
        events_hll_register_audit, EVENTS_HLL_REGISTER_SQL,
        "HLL-style register sketch audit: max trailing-zero ranks + "
        "dyadic harmonic denominator as an exact scaled BIGINT"),
    "val_quantile_sketch_audit": Query(
        val_quantile_sketch_audit, VAL_QUANTILE_SKETCH_SQL,
        "fixed-grid histogram quantile sketch vs exact order statistic "
        "(cents-integer p50/p90, signed bin-bounded error)"),
    "asof_event_next_order": Query(
        asof_event_next_order, ASOF_EVENT_NEXT_ORDER_SQL,
        "forward as-of join: earliest order at-or-after each event "
        "(next-touch attribution direction)"),
    "events_stream_watermark": Query(
        events_stream_watermark, EVENTS_STREAM_WATERMARK_SQL,
        "REAL Structured-Streaming run (per-file batches, event-time "
        "watermark, append mode) whose late-drop + emission semantics "
        "are reproduced bit-exactly by the batch oracle"),
    "events_stream_dedup": Query(
        events_stream_dedup, EVENTS_STREAM_DEDUP_SQL,
        "dropDuplicatesWithinWatermark under the oracle: replayed and "
        "re-stamped duplicates across time-ordered batches — "
        "suppression, late-drop, and re-emission-after-eviction all "
        "reproduced by batch SQL"),
    "events_stream_sessions": Query(
        events_stream_sessions, EVENTS_STREAM_SESSIONS_SQL,
        "streaming session windows under the oracle: cross-batch "
        "session-state merging (12h-gap sessions straddle the 8-day "
        "file boundaries) + the append emission cut, as gap islands "
        "in batch SQL"),
    "cdc_stream_changelog": Query(
        cdc_stream_changelog, CDC_STREAM_CHANGELOG_SQL,
        "the custom applyInPandasWithState changelog operator as a real "
        "update-mode stream: per-(key, batch) accumulated-winner "
        "emissions reproduced by batch SQL, payload round-tripped typed"),
    "events_funnel_steps": Query(
        events_funnel_steps, EVENTS_FUNNEL_STEPS_SQL,
        "ordered 3-step funnel (view -> signup -> purchase, 7-day "
        "bounded gaps) composed from two forward as-of joins — one "
        "key-shuffle per step, never an inequality self-join"),
    "events_stream_join": Query(
        events_stream_join, EVENTS_STREAM_JOIN_SQL,
        "watermarked stream-stream inner join with an event-time range "
        "condition, two real file-stream sources: cross-batch matches "
        "through the join state store, exactly-once pair emission — "
        "must equal the plain batch inequality join"),
    "events_stream_join_outer": Query(
        events_stream_join_outer, EVENTS_STREAM_JOIN_OUTER_SQL,
        "stream-stream LEFT OUTER join: matched pairs as inner, plus "
        "null-padded rows for unmatched views whose join window closed "
        "below the min-of-sides final watermark; trailing views "
        "withheld in state"),
    "q2_min_cost_supplier": Query(
        q2_min_cost_supplier, Q2_SQL,
        "TPC-H q2 adapted over DERIVED partsupp: min-cost European "
        "supplier per part, total-ordered top-100"),
    "q11_important_stock": Query(
        q11_important_stock, Q11_SQL,
        "TPC-H q11 adapted: per-part stock value over a nation group, "
        "HAVING vs scaled total in exact decimals"),
    "q16_part_supplier_variety": Query(
        q16_part_supplier_variety, Q16_SQL,
        "TPC-H q16 adapted: supplier variety per (brand, type, size) "
        "with exclusion filters, COUNT DISTINCT"),
    "q20_promotion_suppliers": Query(
        q20_promotion_suppliers, Q20_SQL,
        "TPC-H q20 adapted: suppliers whose derived stock exceeds "
        "half the 1997 shipped quantity for red parts"),
    "events_stream_sliding": Query(
        events_stream_sliding, EVENTS_STREAM_SLIDING_SQL,
        "sliding windows under the oracle: overlapping 1h/30min "
        "windows with the per-(row,window) lagged late filter and the "
        "end-based emission cut, reproduced by expand-then-filter "
        "batch SQL"),
    "events_ewma_smoothing": Query(
        events_ewma_smoothing, EVENTS_EWMA_SMOOTHING_SQL,
        "exact-integer EWMA (alpha=1/2, 20-row frame): windowed "
        "codegen fold num*2+x / den*2+1 — no float recurrence; oracle "
        "re-derives the ratio via a rn-bounded self-join whose 2^s "
        "rescaling cancels exactly"),
    "events_markov_transitions": Query(
        events_markov_transitions, EVENTS_MARKOV_TRANSITIONS_SQL,
        "first-order Markov next-event model: per-user transition "
        "counts via one lead() on the user_id exchange, row-normalized "
        "probabilities as integer counts + one division"),
    "events_stream_static_enrich": Query(
        events_stream_static_enrich, EVENTS_STREAM_STATIC_ENRICH_SQL,
        "stream-static enrichment join: per-micro-batch broadcast dim "
        "lookup (stateless) feeding a watermarked windowed agg — "
        "watermark BEFORE the join so dropped-by-join rows still "
        "advance the frontier; oracle = pinned watermark model + the "
        "dim join"),
    "orders_trend_ols": Query(
        orders_trend_ols, ORDERS_TREND_OLS_SQL,
        "in-database regression: per-group OLS slope/intercept + "
        "Pearson r from five 128-bit-exact moment sums (one map-side-"
        "combined groupBy), closed forms as exactly-rounded IEEE "
        "expression trees"),
    "events_retention_cohorts": Query(
        events_retention_cohorts, EVENTS_RETENTION_COHORTS_SQL,
        "cohort retention matrix: users bucketed by first-active epoch "
        "DAY, distinct-user retention per day offset — one window "
        "exchange on user_id reused by the re-aggregation, all-integer "
        "day arithmetic"),
    "events_stream_join_full": Query(
        events_stream_join_full, EVENTS_STREAM_JOIN_FULL_SQL,
        "stream-stream FULL OUTER join: inner pairs + closed unmatched "
        "views (v + range <= fwm) + closed unmatched purchases "
        "(p < fwm, strict) — both null-emission rules pinned "
        "empirically"),
}
