"""TPC-H-shaped composite queries over the synthetic star schema —
multi-operator plans (filter → multi-join → agg → top-k) in one piece, the
shapes bench.py and the scale design care about most.

(Q1's shape is `q_agg_group` in operators/relational.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import (
    davg, dsum, exact_sum, finite, sql_davg, sql_dsum, sql_exact_sum, sql_finite
)
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t


@query(
    "q_tpch_q3",
    oracle=f"""
SELECT l.l_orderkey,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue", 25, 6)},
       o.o_orderdate AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape (shipping priority): segment-filtered customer broadcast into
    orders, fact join on l_orderkey, grouped revenue, heap top-10. Both
    filters sit on the scans (pushdown), so the fact join sees only
    pre-filtered rows."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 25, 6))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=f"""
SELECT n.n_name,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue", 25, 6)}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape (local supplier volume): the one genuine fact-fact shuffle
    (lineitem ⋈ orders on orderkey); everything else broadcasts. The
    c_nationkey = s_nationkey condition rides the supplier join."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 25, 6))
    )


_Q6_SQL = f"""
SELECT {sql_dsum("l_extendedprice * l_discount", "revenue", 25, 6)},
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q_tpch_q6", oracle=_Q6_SQL)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 (forecast revenue change) through the SQL-string API: the SAME
    ANSI text runs on Spark (over registered temp views) and DuckDB — the
    decimal-sum determinism rule is expressible in pure SQL, so one string
    serves both engines. Plan: scan-local filter (all three predicates
    pushed) + a single global partial+final aggregate; no shuffle beyond
    the final 1-row combine."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    return spark.sql(_Q6_SQL)


Q18_QTY_THRESHOLD = 300


@query(
    "q_tpch_q18",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_exact_sum("l_quantity")} > {Q18_QTY_THRESHOLD})
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
       {sql_dsum("l.l_quantity", "sum_qty")}
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape (large-volume orders): a HAVING-filtered aggregate over the
    fact table becomes the semi-join probe — the aggregate's output is
    tiny (orders over the threshold), so it broadcasts into the
    fact-dimension join and the big table is scanned once for the filter
    and once for the final rollup. Heap top-100 on (totalprice, orderkey)."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty_all"))
        .filter(F.col("sum_qty_all") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q13",
    oracle="""
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey)
GROUP BY c_count
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape (customer order distribution): left join with a join-side
    predicate (not a WHERE — zero-order customers must survive), per-key
    count, then a histogram of the counts. Two partial+final aggregates;
    the second one's input is |customers| rows."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum("l_quantity", "sum_qty", 25, 2)},
       {sql_dsum("l_extendedprice", "sum_base_price", 25, 2)},
       {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price", 25, 6)},
       {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", 25, 6)},
       {sql_davg("l_quantity", "avg_qty", 25, 2)},
       {sql_davg("l_extendedprice", "avg_price", 25, 2)},
       {sql_davg("l_discount", "avg_disc", 18, 6)},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (pricing summary report): the canonical scan-heavy aggregate —
    one pass over the fact table, all eight measures computed in a single
    partial+final hash aggregate over a 6-ish-group key. The shipdate
    predicate is pushed to the scan; no join, no second shuffle. At 100 TB
    this is bandwidth-bound, which is exactly what whole-stage codegen +
    vectorized parquet give; the group-key cardinality stays tiny so the
    final combine is free. (Reference composite-agg shape:
    consumer.py:221-249 aggregates per partition before the sink.)"""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty", 25, 2),
            dsum("l_extendedprice", "sum_base_price", 25, 2),
            dsum(disc_price, "sum_disc_price", 25, 6),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge", 25, 6),
            davg("l_quantity", "avg_qty", 25, 2),
            davg("l_extendedprice", "avg_price", 25, 2),
            davg("l_discount", "avg_disc", 18, 6),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_tpch_q4",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order priority checking), adapted to this star schema's
    columns: the fixture's lineitem has no commit/receipt dates, so the
    EXISTS predicate is 'some line shipped after the order date' instead of
    TPC-H's l_commitdate < l_receiptdate — same plan shape: a date-windowed
    orders scan LEFT SEMI joined against the fact table on orderkey with a
    non-equi residual, then a tiny grouped count. The semi join shuffles
    only matched keys; the date filter prunes orders before the join."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q10",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue", 25, 6)},
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape (returned-item reporting): date-windowed orders and
    return-filtered lineitem meet on the one real shuffle (orderkey); the
    fixed-cardinality nation table broadcasts into customer first, and the
    nation-tagged customer dim carries no hard hint — customer scales with
    the facts, so size-based planning broadcasts it at bench scale and
    shuffles at 100 TB. Heap top-20 on (revenue, custkey) — the unique
    tie-break keeps cross-engine order deterministic."""
    n = t(spark, sf_dir, "nation")
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 25, 6))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q14",
    oracle=f"""
SELECT ROUND(
  (100.0 * ({sql_exact_sum(f"CASE WHEN p.p_type = 'PROMO' THEN {sql_finite('l.l_extendedprice * (1 - l.l_discount)')} ELSE 0 END", 25, 6, guard=False)}))
        / ({sql_exact_sum("l.l_extendedprice * (1 - l.l_discount)", 25, 6)}), 6) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-02-01'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape (promotion effect): conditional aggregate over a
    fact-dimension join — part broadcasts (dimension ≪ fact), the date
    window prunes the fact scan, and the whole thing reduces to one global
    row. The ratio goes through try_divide + ROUND(6) (cross-engine float
    rule; the denominator is data-dependent)."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(dsum(promo, "_promo", 25, 6), dsum(disc_price, "_total", 25, 6))
        .select(
            F.round(F.try_divide(F.lit(100.0) * F.col("_promo"), F.col("_total")), 6).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q_tpch_q7",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_dsum("volume", "revenue", 25, 6)}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= TIMESTAMP '1995-01-01'
    AND l.l_shipdate <= TIMESTAMP '1996-12-31')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape (volume shipping between two trading nations, names adapted
    to the synthetic NATION_n domain): the TWO-nation slice of `nation` is
    broadcast INTO supplier/customer first, so only the nation-restricted
    dims (2 of the nation domain) ever reach the fact side. Those restricted
    dims carry no hard broadcast hint — supplier/customer scale with the
    fact tables in TPC-H, so the engine lets size-based planning/AQE pick
    broadcast at bench scale and shuffle at 100 TB; either way the nation
    filter has already cut the dim before the exchange. lineitem ⋈ orders
    is the one guaranteed fact shuffle. Revenue per (supp, cust, year)."""
    trade = ["NATION_1", "NATION_2"]
    n1 = (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(trade))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(trade))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue", 25, 6))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q_tpch_q8",
    oracle=f"""
SELECT o_year,
       ROUND(({sql_exact_sum(f"CASE WHEN nation = 'NATION_3' THEN {sql_finite('volume')} ELSE 0 END", 25, 6, guard=False)})
           / ({sql_exact_sum("volume", 25, 6)}), 6) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate <= TIMESTAMP '1996-12-31')
GROUP BY o_year
ORDER BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape (national market share, adapted names): the truly tiny
    relations (region-restricted nation keys, the nation name table) are
    broadcast INTO customer/supplier first, so the fact side only ever sees
    region-restricted customers and nation-tagged suppliers. The scaling
    dims (part, customer, supplier) carry NO hard broadcast hint — they
    grow with the fact tables, so size-based planning/AQE broadcasts them
    at bench scale and falls back to shuffle at 100 TB, with the filters
    already applied before the exchange either way. The share is a
    conditional-over-total ratio via decimal sums, try_divide, ROUND(6)."""
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    amer_keys = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("n1_key"))
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select("s_suppkey", "nation")
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(amer_keys), F.col("c_nationkey") == F.col("n1_key"))
        .select("c_custkey")
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
    )
    nat_volume = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return (
        joined.groupBy("o_year")
        .agg(dsum(nat_volume, "_nat", 25, 6), dsum("volume", "_all", 25, 6))
        .select(
            "o_year",
            F.round(F.try_divide(F.col("_nat"), F.col("_all")), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q15",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue", 25, 6)}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape (top supplier): a derived per-supplier revenue aggregate
    filtered by its own global max. A naive scalar-subquery translation
    (agg → max → self-join) makes Catalyst recompute the revenue relation
    — TWO fact scans (caught by the plan pin). Instead the max rides a
    global window over the ALREADY-AGGREGATED relation: the fact table is
    scanned once, and the single-partition window exchange only ever sees
    |suppliers| rows, which stays tiny at any fact scale. Ties all surface
    (= max, no arbitrary pick), ordered by suppkey."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue", 25, 6)
    )
    top = (
        revenue.withColumn(
            "max_rev", F.max("total_revenue").over(Window.partitionBy())
        )
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .drop("max_rev")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        top.join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q22",
    oracle=f"""
SELECT n_grp, CAST(COUNT(*) AS BIGINT) AS numcust,
       {sql_dsum("c_acctbal", "totacctbal")}
FROM (
  SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS n_grp, c.c_acctbal
  FROM customer c
  WHERE c.c_acctbal > (SELECT {sql_exact_sum("c_acctbal")}
                              / COUNT(c_acctbal)
                       FROM customer WHERE c_acctbal > 0.0)
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
GROUP BY n_grp
ORDER BY n_grp
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global sales opportunity, adapted twice: the fixture has
    no phone column so the country-code group is nationkey mod 5, and
    every customer has SOME order so the no-orders test is windowed to
    'lapsed since 2000' to stay non-degenerate): customers with
    above-average balance and no recent orders — a scalar-subquery
    threshold (1-row broadcast) plus a LEFT ANTI join against the
    date-filtered orders slice, then a grouped count/sum. The anti join
    shuffles only the filtered customer slice; the orders side is
    date-pruned at the scan and reduced to its custkey column."""
    c = t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal", "avg_bal"))
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.select(
            (F.col("c_nationkey") % 5).cast("bigint").alias("n_grp"), "c_acctbal"
        )
        .groupBy("n_grp")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("n_grp")
    )


@query(
    "q_tpch_q9",
    oracle=f"""
SELECT nation, o_year,
       {sql_dsum("amount", "sum_profit", 25, 6)}
FROM (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - 0.6 * p.p_retailprice * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%widget%')
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit, adapted: the fixture has no partsupp,
    so supply cost is the deterministic 0.6 × p_retailprice proxy; the part
    filter matches the synthetic '<adj> widget' names): the name-filtered
    part table and supplier/nation broadcast, lineitem ⋈ orders is the one
    fact shuffle, then profit per (nation, year). The amount expression
    stays JVM-side (whole-stage codegen) and the decimal route keeps the
    grouped sums order-independent. The fixed-cardinality nation table is
    the only hard broadcast; part/supplier scale with the facts, so they
    carry no hint — size-based planning broadcasts them at bench scale and
    shuffles at 100 TB, with the name filter cutting part first."""
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    n = t(spark, sf_dir, "nation")
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(
            "nation",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit", 25, 6))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q12",
    oracle="""
SELECT shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT CASE CAST(l.l_linenumber % 3 AS INT)
           WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' ELSE 'AIR' END AS shipmode,
         o.o_orderpriority
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01')
WHERE shipmode IN ('MAIL', 'SHIP')
GROUP BY shipmode
ORDER BY shipmode
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipping modes vs order priority; the fixture has no
    l_shipmode/l_commitdate/l_receiptdate, so shipmode is the deterministic
    linenumber-derived proxy and the late-delivery window is the shipdate
    year). The CASE aggregation over priority classes rides the single
    orderkey shuffle; the date window is the pushed scan predicate, and the
    derived-shipmode filter (l_linenumber % 3 < 2) is evaluated in the scan
    stage before the join, so two thirds of the date-windowed lines reach
    the exchange."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipmode = (
        F.when((F.col("l_linenumber") % 3).cast("int") == 0, F.lit("MAIL"))
        .when((F.col("l_linenumber") % 3).cast("int") == 1, F.lit("SHIP"))
        .otherwise(F.lit("AIR"))
    )
    li = li.select("l_orderkey", shipmode.alias("shipmode")).filter(
        F.col("shipmode").isin("MAIL", "SHIP")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


@query(
    "q_tpch_q17",
    oracle=f"""
SELECT ROUND({sql_exact_sum("l.l_extendedprice", 25, 6)}
             / 7.0, 6) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < 0.2 * (
    SELECT {sql_exact_sum("l2.l_quantity")}
           / COUNT(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (small-quantity-order revenue): the correlated per-part
    average is NOT a scalar-subquery self-join (that re-scans the fact
    table); it is a window aggregate over the ALREADY brand-restricted
    lineitem relation — one fact scan, one partkey exchange bounded by the
    brand's line count (plan-pinned). Correlation invariant: the window
    partition holds every lineitem of that part because the join only
    restricts WHICH parts survive, never which lines of a surviving part.
    The threshold goes through the decimal-exact avg (davg shape) so the
    0.2× comparison is bit-identical cross-engine."""
    from pyspark.sql import Window

    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    joined = li.join(p, li.l_partkey == p.p_partkey).withColumn(
        "avg_qty",
        exact_sum("l_quantity", over=w) / F.count("l_quantity").over(w),
    )
    return joined.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty")).agg(
        F.round(
            exact_sum("l_extendedprice", 25, 6) / 7.0,
            6,
        ).alias("avg_yearly")
    )


@query(
    "q_tpch_q19",
    oracle=f"""
SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue", 25, 6)}
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (discounted revenue, disjunctive multi-predicate; the
    fixture has no p_container/l_shipmode so the three arms select on
    brand × size × quantity). The OR-of-ANDs straddles the join, so
    Catalyst cannot derive per-side scan predicates from it; the engine
    adds the IMPLIED per-side envelopes explicitly — brand ∈ {1,2,3} ∧
    size ∈ [1,15] on part, quantity ∈ [1,30] on lineitem — which push to
    both parquet scans (plan-pinned) while the exact disjunction runs
    post-join. At 100 TB the envelopes are what keep the join input a few
    percent of the fact table instead of all of it."""
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    p = (
        t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & F.col("p_size").between(1, 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(arm1 | arm2 | arm3)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                25,
                6,
            )
        )
    )


@query(
    "q_tpch_q21",
    oracle="""
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting; the fixture has no
    l_receiptdate/l_commitdate, so 'problem line' is the returnflag='R'
    proxy): the two correlated subqueries — EXISTS another supplier in the
    order, NOT EXISTS another supplier with a problem line — would scan
    the fact table three times as semi/anti joins. Instead both collapse
    into per-order window aggregates over ONE lineitem scan: EXISTS ⟺
    |distinct suppliers| ≥ 2, NOT-EXISTS ⟺ the problem-supplier set is
    exactly {l1's supplier} ⟺ its size is 1 given l1 is a problem line.
    The per-order supplier sets are bounded by lines-per-order (≤ 7 in
    TPC-H), so the window state is O(1) per order at any fact scale; orders
    then joins on the same orderkey partitioning and supplier attaches by
    size-based broadcast at bench scale."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_problem_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                ).over(w)
            ),
        )
    )
    l1 = li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("n_supp") >= 2)
        & (F.col("n_problem_supp") == 1)
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(s, l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# The fixture has no partsupp table, so the four partsupp-centric queries
# (Q2 / Q11 / Q16 / Q20) run over a lineitem-DERIVED part-supplier relation:
#   ps(ps_partkey, ps_suppkey,
#      ps_availqty   = decimal-exact SUM(l_quantity),
#      ps_supplycost = MIN(l_extendedprice))
# — deterministic, data-derived (no synthetic constants), and identical in
# the DuckDB oracles via the same CTE text. MIN is order-independent on
# doubles, and the quantity sum goes through the decimal route, so the
# relation is bit-identical cross-engine and partition-count-invariant.

_PS_CTE = f"""
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         {sql_dsum("l_quantity", "ps_availqty")},
         MIN(l_extendedprice) AS ps_supplycost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)"""


def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived part-supplier relation (see _PS_CTE). One lineitem scan,
    3-column projection pushed to the reader, partial+final hash agg on
    (partkey, suppkey) — the relation is |part|×|supp per part| rows, i.e.
    dimension-sized relative to the fact table at any scale."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        dsum("l_quantity", "ps_availqty"),
        F.min("l_extendedprice").alias("ps_supplycost"),
    )


@query(
    "q_tpch_q2",
    oracle=f"""
WITH {_PS_CTE},
scoped AS (
  SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
         ps.ps_supplycost, ps.ps_suppkey,
         MIN(ps.ps_supplycost) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM ps
  JOIN part p ON p.p_partkey = ps.ps_partkey
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
    AND p.p_type = 'PROMO' AND p.p_size BETWEEN 10 AND 30
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost, ps_suppkey
FROM scoped
WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
LIMIT 100
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier; reference ref consumer.py has no
    relational surface — this is north-star coverage): the correlated
    min-cost subquery is a window MIN over the already region- and
    part-restricted relation — one scan of the derived ps relation, never
    a self-join recompute (same discipline as Q15/Q17, plan-pinned). The
    window partition is per-partkey over suppliers-in-region, exactly the
    correlation scope of the original subquery. part is filtered before
    its join; supplier/nation/region broadcast (dimension-sized)."""
    from pyspark.sql import Window

    ps = _ps(spark, sf_dir)
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & F.col("p_size").between(10, 30)
    ).select("p_partkey", "p_name")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    scoped = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn(
            "min_cost", F.min("ps_supplycost").over(Window.partitionBy("p_partkey"))
        )
    )
    return (
        scoped.filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_supplycost", "ps_suppkey",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "ps_suppkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q11",
    oracle=f"""
WITH {_PS_CTE},
agg AS (
  SELECT ps.ps_partkey,
         {sql_dsum("ps.ps_supplycost * ps.ps_availqty", "part_value", 25, 6)}
  FROM ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_regionkey = 3
  GROUP BY ps.ps_partkey
),
win AS (
  SELECT ps_partkey, part_value,
         {sql_exact_sum("part_value", 25, 6, over="()", guard=False)} AS total,
         COUNT(*) OVER () AS n_parts
  FROM agg
)
SELECT ps_partkey, part_value
FROM win
WHERE part_value > 2.0 * total / n_parts
ORDER BY part_value DESC, ps_partkey
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): per-part inventory value filtered by a
    fraction of the GLOBAL total. The scalar subquery becomes a global
    window SUM over the already-aggregated per-part relation (Q15
    discipline — a scalar-subquery translation recomputes the whole
    aggregate; plan pin enforces the single ps derivation). The global
    window exchange sees |parts| rows, not fact rows, so the
    single-partition stage stays bounded at any fact scale. Value sums are
    decimal-routed at both levels for cross-engine exactness. The
    threshold is SCALE-FREE — 2× the mean per-part value, not a fixed
    fraction of the total (TPC-H's 0.0001/SF in spirit): a fixed fraction
    selects ~nothing once |parts| ≫ 1/fraction."""
    from pyspark.sql import Window

    ps = _ps(spark, sf_dir)
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
    agg = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("ps_partkey")
        .agg(
            dsum(F.col("ps_supplycost") * F.col("ps_availqty"), "part_value", 25, 6)
        )
    )
    w = Window.partitionBy()
    win = agg.withColumn(
        "total",
        exact_sum("part_value", 25, 6, over=w, guard=False),
    ).withColumn("n_parts", F.count(F.lit(1)).over(w))
    return (
        win.filter(F.col("part_value") > 2.0 * F.col("total") / F.col("n_parts"))
        .select("ps_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


@query(
    "q_tpch_q16",
    oracle=f"""
WITH {_PS_CTE}
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = ps.ps_suppkey AND s.s_acctbal < 1000.0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship; the 'customer complaints'
    supplier exclusion is the data-derived s_acctbal < 1000 proxy): the
    NOT-IN subquery is a broadcast LEFT ANTI join against the filtered
    supplier slice — never a shuffle of the ps relation for a
    dimension-sized exclusion list. Distinct supplier count per part attrs
    is a two-level hash aggregate (partial distinct map-side)."""
    ps = _ps(spark, sf_dir)
    complainers = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
    )
    return (
        ps.join(
            F.broadcast(complainers),
            ps.ps_suppkey == complainers.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q20",
    oracle=f"""
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         {sql_dsum("l_quantity", "ps_availqty")},
         {sql_exact_sum(f"CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' THEN {sql_finite('l_quantity', 15)} ELSE 0.0 END", guard=False)} AS qty_1996
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
    SELECT DISTINCT ps.ps_suppkey
    FROM ps
    WHERE ps.ps_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'cold%')
      AND 0.5 * ps.ps_availqty > ps.qty_1996)
  AND s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
ORDER BY s.s_name
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (excess-inventory suppliers; no l_receiptdate in the
    fixture, so 'excess' = 1996 shipments under half of all-time supply):
    the classic nested IN-chain would derive ps and the 1996 shipped
    quantity from TWO lineitem scans — here both aggregates come out of
    ONE groupBy over one scan (conditional decimal sum), plan-pinned. The
    part name filter is a broadcast semi join, the supplier membership a
    broadcast semi probe; nothing fact-sized ever shuffles twice."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        dsum("l_quantity", "ps_availqty"),
        exact_sum(
            F.when(in_96, finite("l_quantity", 15)).otherwise(F.lit(0.0)), guard=False
        ).alias("qty_1996"),
    )
    cold = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("cold%"))
        .select("p_partkey")
    )
    qualified = (
        ps.join(F.broadcast(cold), F.col("ps_partkey") == cold.p_partkey, "left_semi")
        .filter(0.5 * F.col("ps_availqty") > F.col("qty_1996"))
        .select("ps_suppkey")
        .distinct()
    )
    nations = (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(qualified), s.s_suppkey == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(nations), s.s_nationkey == F.col("n_nationkey"), "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )
