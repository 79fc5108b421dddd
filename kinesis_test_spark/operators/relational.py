"""Relational core: scans, filters, projections, joins, aggregations, sorts.

Reference grounding (SURVEY.md §2): the reference's scan/project/filter path
is `get_records` → per-record dict projection → dedup gate
(`/root/reference/consumer.py:115-130,296-305`); everything else here is the
north-star full query surface. All operators are stock DataFrame API so
Catalyst provides pushdown, pruning, join selection, and AQE for free.

Scale notes (100 TB posture), per operator family:
  * scans — column pruning + predicate pushdown reach the parquet reader
    (checked in tests/test_plans.py); partition-pruned layouts come from the
    streaming sink's y/m/d/h partitioning.
  * joins — dims (region/nation/supplier at any SF) are broadcast; the
    fact-fact joins (lineitem⋈orders) shuffle on the join key, which is also
    each table's natural bucketing key; AQE handles skew.
  * aggregations — all expressible as partial+final hash aggregates
    (map-side combine), no collect-to-driver anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import (
    cents_sum, davg, dsum, exact_sum, finite, route_exp, sql_cents_term,
    sql_davg, sql_dsum, sql_exact_sum, sql_finite, sql_ms
)
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t, views

# ---------------------------------------------------------------------------
# Scans / projection  (reference: consumer.py:115-130 fetch, :239 projection)
# ---------------------------------------------------------------------------


@query("q_scan", oracle="SELECT * FROM lineitem")
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan, all columns (reference full-batch fetch, consumer.py:115-130)."""
    return t(spark, sf_dir, "lineitem")


@query(
    "q_scan_prune",
    oracle="SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem",
)
def q_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected scan — Catalyst prunes the parquet ReadSchema to 3 columns
    (reference projects only `data` out of each record, consumer.py:239)."""
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_shipdate")


@query(
    "q_json_decode",
    oracle="""
SELECT event_id,
       TRY_CAST(NULLIF(regexp_extract(
           CASE WHEN json_valid(props) THEN trim(props->>'$.k') END,
           '^[+-]?[0-9]+$'), '') AS BIGINT) AS k
FROM events
""",
)
def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode (reference json.loads per record, consumer.py:123).
    Total on dirty input: get_json_object is lenient (malformed JSON →
    NULL) and the numeric cast is try_cast, so a poison payload yields a
    NULL row instead of failing the scan — the oracle mirrors with a
    json_valid guard + an integral-only regex before TRY_CAST (Spark's
    string->bigint try_cast NULLs '5.7' where a bare DuckDB TRY_CAST
    would round it — the truncate-vs-round rule, applied to try casts)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') as bigint)").alias("k"),
    )


@query(
    "q_time_partition_key",
    oracle="""
SELECT event_id,
       CAST(year(ts) AS INT) AS y,
       CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d,
       CAST(hour(ts) AS INT) AS h,
       'y=' || CAST(year(ts) AS VARCHAR) || '/m=' || CAST(month(ts) AS VARCHAR)
       || '/d=' || CAST(day(ts) AS VARCHAR) || '/h=' || CAST(hour(ts) AS VARCHAR)
       AS s3_key_prefix
FROM events
""",
)
def q_time_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `event_time_to_s3_key` layout — y/m/d/h NOT zero-padded
    (consumer.py:221-232; golden case test/consumer_test.py:10-12)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        # gated: format_string renders a NULL argument as the text 'null';
        # a NULL ts must yield a NULL partition key (edge corpus)
        F.when(
            F.col("ts").isNotNull(),
            F.format_string(
                "y=%d/m=%d/d=%d/h=%d",
                F.year("ts"), F.month("ts"), F.dayofmonth("ts"), F.hour("ts"),
            ),
        ).alias("s3_key_prefix"),
    )


# ---------------------------------------------------------------------------
# Filters / predicates  (reference: dedup gate consumer.py:296-305,
# checkpoint point-lookup consumer.py:145-147)
# ---------------------------------------------------------------------------


@query(
    "q_filter_eq",
    oracle="SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'",
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select("event_id", "ts", "user_id", "value")


@query(
    "q_filter_in",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list membership (reference: `checkpoint in sequence_numbers`,
    consumer.py:301)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


@query(
    "q_filter_null",
    oracle="""
SELECT event_id, value,
       CASE WHEN value < 0.2 THEN NULL ELSE event_type END AS et
FROM events
WHERE (CASE WHEN value < 0.2 THEN NULL ELSE event_type END) IS NULL
""",
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL predicates — the reference payload is null-riddled (event.py:1-9)."""
    ev = t(spark, sf_dir, "events")
    et = F.when(F.col("value") < 0.2, F.lit(None)).otherwise(F.col("event_type"))
    return ev.select("event_id", "value", et.alias("et")).filter(F.col("et").isNull())


@query(
    "q_filter_range",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_quantity BETWEEN 10 AND 20
""",
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & F.col("l_quantity").between(10, 20)
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


@query(
    "q_project_compute",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
       CASE WHEN l_discount > 0.05 THEN 'deep' ELSE 'shallow' END AS disc_band
FROM lineitem
""",
)
def q_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projections — pure rowwise IEEE arithmetic is bit-identical
    across engines (no reassociation), so no decimal detour needed."""
    li = t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (1 + F.col("l_tax"))).alias("charged"),
        F.when(F.col("l_discount") > 0.05, "deep").otherwise("shallow").alias("disc_band"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY.md §2B — none in the single-stream reference; NS mandate)
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_broadcast",
    oracle=f"""
SELECT r.r_name, n.n_name,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue", 25, 6)},
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ small dims with explicit broadcast — at 100 TB the lineitem side
    never shuffles for these joins (map-side broadcast hash join chain)."""
    li = t(spark, sf_dir, "lineitem")
    s = F.broadcast(t(spark, sf_dir, "supplier"))
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 25, 6),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_join_left",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       COUNT(o.o_orderkey) AS n_orders,
       {sql_dsum("o.o_totalprice", "sum_price")}
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
""",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count 0, sum NULL)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"), dsum("o_totalprice", "sum_price"))
    )


@query(
    "q_join_full",
    oracle="""
SELECT COALESCE(cn.nk, sn.nk) AS nationkey, cn.n_cust, sn.n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) cn
FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) sn
ON cn.nk = sn.nk
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_cust")
    )
    s = t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_supp")
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_theta",
    oracle="""
SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_cheaper_parts
FROM supplier s JOIN part p ON p.p_retailprice < s.s_acctbal
GROUP BY s.s_suppkey, s.s_name
""",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (theta) join → broadcast nested loop on the small side.
    Scale path: banded theta joins should be rewritten as range-bucketed
    equi-joins (see operators/asof.py docstring) — BNL is O(n·m)."""
    s, p = t(spark, sf_dir, "supplier"), t(spark, sf_dir, "part")
    return (
        s.join(p, p.p_retailprice < s.s_acctbal)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_cheaper_parts"))
    )


# ---------------------------------------------------------------------------
# Aggregations  (reference: batch count consumer.py:288-289; NS full set)
# ---------------------------------------------------------------------------


@query(
    "q_agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       {sql_dsum("l_quantity", "sum_qty")},
       MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
       {sql_davg("l_extendedprice", "avg_price")}
FROM lineitem
""",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        davg("l_extendedprice", "avg_price"),
    )


@query(
    "q_agg_group",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum("l_quantity", "sum_qty")},
       {sql_dsum("l_extendedprice", "sum_base_price")},
       {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price", 25, 6)},
       {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", 25, 6)},
       {sql_davg("l_quantity", "avg_qty")},
       {sql_davg("l_discount", "avg_disc", 18, 4)},
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical partial+final hash aggregate: at scale
    the map-side combine collapses each partition to |groups| rows before the
    shuffle, so the shuffle is O(groups × partitions), not O(rows)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price", 25, 6),
        dsum(disc_price * (1 + F.col("l_tax")), "sum_charge", 25, 6),
        davg("l_quantity", "avg_qty"),
        davg("l_discount", "avg_disc", 18, 4),
        F.count("*").alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query("q_agg_approx_distinct")  # rows-only: approximate by construction
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch counts — the 100 TB path for distinct-cardinality where
    exact shuffle-distinct is too expensive. Not oracle-comparable (approx)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@query(
    "q_agg_rollup",
    oracle=f"""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_cust,
       {sql_dsum("c_acctbal", "sum_bal")}
FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
HAVING COUNT(*) > 0 -- Spark emits NO grand-total row over an empty
                    -- relation (SQL emits one); only that row can have
                    -- count 0, so this pins Spark's choice exactly
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.rollup("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("n_cust"), dsum("c_acctbal", "sum_bal")
    )


@query(
    "q_agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0 -- empty-relation semantics: see q_agg_rollup
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@query(
    "q_agg_gsets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {sql_dsum("o_totalprice", "sum_price")}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
HAVING COUNT(*) > 0 -- empty-relation semantics: see q_agg_rollup
""",
)
def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # sql_dsum keeps this SQL string's sum guarded like the oracle's —
    # Spark CAST(double AS DECIMAL) NULLs NaN/Inf silently but ANSI-RAISES
    # on a finite out-of-range value (edge_magnitude), so a bare inline
    # cast diverges from itself depending on the KIND of dirty input
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {sql_dsum("o_totalprice", "sum_price")}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_collect",
    oracle="""
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set per group, order-normalized (array_sort) then serialized
    so the cross-engine hash is stable (reference array fields: event.py:32)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types_seen"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "q_agg_stats",
    oracle=f"""
SELECT event_type,
       ROUND(stddev_samp(fv), 6) AS sd_value,
       ROUND(var_samp(fv), 6) AS var_value,
       ROUND(corr(fv, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
       ROUND(CAST(quantile_cont(fv, 0.5) AS DOUBLE), 6) AS p50,
       ROUND(CAST(quantile_cont(fv, 0.9) AS DOUBLE), 6) AS p90
FROM (SELECT event_type, user_id,
             {sql_finite("value")} AS fv
      FROM events) GROUP BY event_type
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; rounded to 6dp — variance/corr accumulation
    order differs across engines, exactness isn't recoverable via decimal.
    Moment stats get the finite guard: a NaN input makes DuckDB's
    stddev/var/corr RAISE OutOfRange where Spark yields NaN, so non-finite
    values are excluded explicitly on both sides (EDGES non-finite class)."""
    ev = t(spark, sf_dir, "events").withColumn("fv", finite(F.col("value")))
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("fv"), 6).alias("sd_value"),
        F.round(F.var_samp("fv"), 6).alias("var_value"),
        # corr expanded to covar/(sd*sd) through try_divide: Spark 4 ANSI
        # F.corr RAISES DIVIDE_BY_ZERO on a zero-variance group (a NEW
        # event_type with a constant value column — zero-variance edge
        # corpus) where DuckDB corr returns NULL; Spark's stable moments
        # give exactly-0 stddev there, so try_divide lands NULL too.
        # Each sd is over the PAIRWISE-complete population (corr and
        # covar_samp drop a pair when EITHER side is NULL; a bare
        # stddev_samp("fv") would keep rows whose user_id is NULL and
        # drift the denominator — non-finite corpus caught the mirror
        # case, fv NULLed by the quarantine while user_id survives)
        F.round(
            F.try_divide(
                F.covar_samp("fv", F.col("user_id").cast("double")),
                F.stddev_samp(
                    F.when(F.col("user_id").isNotNull(), F.col("fv"))
                )
                * F.stddev_samp(
                    F.when(
                        F.col("fv").isNotNull(),
                        F.col("user_id").cast("double"),
                    )
                ),
            ),
            6,
        ).alias("corr_vu"),
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY fv)"), 6).alias("p50"),
        F.round(F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY fv)"), 6).alias("p90"),
    )


@query(
    "q_pivot",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never the two-pass inferred form,
    which at scale adds a full extra scan just to discover headers."""
    ev = t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "error", "signup", "view"])
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "purchase", "error", "signup", "view"]],
    )


# ---------------------------------------------------------------------------
# Sort / limit  (reference: last-record selection consumer.py:179)
# ---------------------------------------------------------------------------


@query(
    "q_sort_limit",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST LIMIT 100
""",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Spark plans TakeOrderedAndProject: per-partition heaps
    then a k-row merge at the driver; no global sort even at 100 TB."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@query(
    "q_sort_multi",
    oracle="""
SELECT event_id, event_type, value FROM events
ORDER BY event_type ASC NULLS LAST, value DESC NULLS LAST, event_id
LIMIT 50
""",
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null ordering is EXPLICIT on both engines: Spark defaults ASC to
    NULLS FIRST / DESC to NULLS LAST while DuckDB defaults the opposite
    way, so a nullable sort column under a LIMIT silently selects
    different rows unless pinned (nulls corpus class 1,
    tools/battery.py --class nulls)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.orderBy(
            F.col("event_type").asc_nulls_last(),
            F.col("value").desc_nulls_last(),
            F.col("event_id"),
        )
        .select("event_id", "event_type", "value")
        .limit(50)
    )


@query(
    "q_agg_histogram",
    oracle=f"""
SELECT CAST(FLOOR({sql_finite("o_totalprice")} / 25000) + 1 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders GROUP BY bucket
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (width_bucket semantics over [0, 500000) in 20
    bins, stated as explicit floor arithmetic for engine portability) — the
    OLAP binning primitive; one partial+final agg, bucket count independent
    of data volume."""
    o = t(spark, sf_dir, "orders")
    # NULL bucket = the invalid bin: a non-finite price can't be floored
    # into a bucket id (DuckDB raises, Spark ANSI-errors the BIGINT cast) —
    # min/max still report over the raw values (NaN/Inf propagate equally)
    return (
        o.select((F.floor(finite("o_totalprice") / 25000) + 1).alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "q_sample_hash",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE (strpos('0123456789abcdef', substr(md5('smp|' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 4096
    + (strpos('0123456789abcdef', substr(md5('smp|' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256
    + (strpos('0123456789abcdef', substr(md5('smp|' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(md5('smp|' || CAST(event_id AS VARCHAR)), 4, 1)) - 1)
    < 6554
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample keyed on a salted content hash —
    unlike TABLESAMPLE this is reproducible across engines, runs, and
    partitionings, which is what a training-data pipeline needs for held-out
    splits (same doc always lands in the same split)."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    ev = t(spark, sf_dir, "events")
    h = spark_hex16(F.concat(F.lit("smp|"), F.col("event_id").cast("string")))
    return ev.filter(h < 6554).select("event_id", "user_id", "event_type")  # = oracle bound


@query(
    "q_agg_gid",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       COUNT(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0 -- empty-relation semantics: see q_agg_rollup
""",
)
def q_agg_gid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grouping_id/grouping markers — distinguishes 'NULL because
    aggregated away' from genuine NULL data (both engines use the same
    MSB-first bitmask)."""
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.count("*").alias("n"),
    )


@query(
    "q_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, metric, val FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt) — the inverse of q_pivot; one map-side
    row expansion, no shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


@query(
    "q_join_cross",
    oracle="""
SELECT r.r_name, p.o_orderpriority, COUNT(*) AS n_possible
FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
GROUP BY r.r_name, p.o_orderpriority
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two small distinct sets (dimension grid
    materialization — the only sane cross-join shape at scale)."""
    r = t(spark, sf_dir, "region")
    p = t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(p).groupBy("r_name", "o_orderpriority").agg(
        F.count("*").alias("n_possible")
    )


@query(
    "q_time_rollup",
    oracle=f"""
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM events
GROUP BY GROUPING SETS ((y, m, d, h), (y, m, d), (y, m), (y))
""",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour/day/month/year rollups of
    the event stream in ONE pass (grouping sets over derived time columns) —
    the batch form of the cascaded materialized rollups a time-series store
    maintains. Map-side the sets expand ×4, then a single partial+final
    aggregate; at scale this replaces four separate scans."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
               CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
               COUNT(*) AS n,
               {sql_dsum("value", "sum_value", 18, 6)}
        FROM events
        GROUP BY GROUPING SETS ((y, m, d, h), (y, m, d), (y, m), (y))
        """
    )


STRATA_RATES = {"click": 10, "view": 10, "error": 50, "purchase": 100, "signup": 100}  # %


def _stratified_oracle() -> str:
    from kinesis_test_spark.functions.porthash import sql_hex16

    h = sql_hex16("'strat|' || CAST(event_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN event_type = '{k}' THEN {rate * 65536 // 100}"
        for k, rate in STRATA_RATES.items()
    )
    return f"""
SELECT event_id, event_type, user_id
FROM events
WHERE {h} < (CASE {cases} ELSE 0 END)
"""


@query("q_sample_stratified", oracle=_stratified_oracle())
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-class keep rates (downsample
    the dominant click/view classes, keep all purchases/signups) decided by
    a salted content hash against a per-stratum threshold — the
    class-rebalancing step of a training recipe, reproducible across
    engines, runs, and partitionings (unlike seeded sampleBy)."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    ev = t(spark, sf_dir, "events")
    h = spark_hex16(F.concat(F.lit("strat|"), F.col("event_id").cast("string")))
    threshold = None
    for k, rate in STRATA_RATES.items():
        cond = F.when(F.col("event_type") == k, F.lit(rate * 65536 // 100))
        threshold = cond if threshold is None else threshold.when(
            F.col("event_type") == k, F.lit(rate * 65536 // 100)
        )
    threshold = threshold.otherwise(F.lit(0))
    return ev.filter(h < threshold).select("event_id", "event_type", "user_id")


IMP_W_CAP = 1000  # weight cap (chars) — bounds every integer product below


def _importance_oracle() -> str:
    from kinesis_test_spark.functions.porthash import sql_hex16
    from kinesis_test_spark.sources import SQL_UNIQUE_DOCS

    h = sql_hex16("'imp|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT doc_id, lang,
         CASE WHEN n_chars IS NULL OR n_chars < 0 THEN 0
              ELSE LEAST(n_chars, {IMP_W_CAP}) END AS wt
  FROM {SQL_UNIQUE_DOCS}),
mx AS (SELECT MAX(wt) AS max_w FROM w),
flag AS (
  SELECT lang, wt, (({h}) * mx.max_w < wt * 65536) AS kept
  FROM w, mx)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(wt) FILTER (WHERE kept), 0) AS BIGINT) AS w_kept,
       CAST(COUNT(*) FILTER (WHERE kept) AS DOUBLE) / COUNT(*) AS keep_rate
FROM flag GROUP BY lang
"""


@query("q_sample_importance", oracle=_importance_oracle())
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted Bernoulli sampling: each document is kept with
    probability proportional to its weight (capped length as the quality
    proxy), p_i = w_i / max(w) — the quality-weighted downsampling step of
    a data recipe. The acceptance test is the EXACT INTEGER
    cross-multiplication hex16(doc_id) * max_w < w_i * 65536 — no float
    thresholds, no pow/ln (the Efraimidis-Spirakis form would put a
    libm-vs-JDK transcendental in the accept/reject decision), so the
    same doc is kept on every engine, run, and partitioning. max(w) joins
    in as a broadcast 1-row aggregate; the acceptance predicate runs
    inside codegen at scan time — zero shuffles before the per-lang
    summary. Weight guards: NULL/negative n_chars → weight 0 (never
    kept); doc-identity grain via unique_docs (redelivered rows must not
    double the summary). keep_rate is an exact-integer quotient (no
    ROUND)."""
    from kinesis_test_spark.functions.porthash import spark_hex16
    from kinesis_test_spark.sources import unique_docs

    d = unique_docs(spark, sf_dir, cols=["doc_id", "lang", "n_chars"])
    w = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("n_chars").isNull() | (F.col("n_chars") < 0), F.lit(0)
        )
        .otherwise(F.least(F.col("n_chars"), F.lit(IMP_W_CAP)))
        .alias("wt"),
    )
    mx = w.agg(F.max("wt").alias("max_w"))
    h = spark_hex16(F.concat(F.lit("imp|"), F.col("doc_id").cast("string")))
    flag = w.crossJoin(F.broadcast(mx)).select(
        "lang", "wt", (h * F.col("max_w") < F.col("wt") * 65536).alias("kept")
    )
    return flag.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("kept"), F.lit(1))).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("kept"), F.col("wt"))), F.lit(0))
        .cast("bigint")
        .alias("w_kept"),
        F.try_divide(
            F.count(F.when(F.col("kept"), F.lit(1))).cast("double"),
            F.count(F.lit(1)),
        ).alias("keep_rate"),
    )


@query(
    "q_agg_argmax",
    oracle="""
SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         -- placement-independent DESC NULLS LAST: boolean prefix + NULL-free
         -- COALESCE (DuckDB 1.0's parallel window sort misplaces NULL keys
         -- even with an explicit NULLS clause — r9 verdict; see q_window_lag)
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (ts IS NOT NULL) DESC, COALESCE(ts, TIMESTAMP '1970-01-01') DESC,
                                     (event_id IS NOT NULL) DESC, COALESCE(event_id, 0) DESC,
                                     (event_type IS NOT NULL) DESC, COALESCE(event_type, '') DESC) AS rn
  FROM events) WHERE rn = 1
""",
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user as ONE hash aggregate: max over an orderable
    struct (ts, event_id, event_type) — partial+final with map-side
    combine, no per-key sort. The deterministic arg-max idiom (max_by
    leaves ties unspecified; the struct ordering pins them)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id", F.struct("ts", "event_id", "event_type").alias("r")
        )
        .groupBy("user_id")
        .agg(F.max("r").alias("r"))
        .select(
            "user_id",
            F.col("r.event_id").alias("last_event_id"),
            F.col("r.ts").alias("last_ts"),
            F.col("r.event_type").alias("last_type"),
        )
    )


@query(
    "q_stats_profile",
    oracle="""
SELECT 'event_id' AS col, COUNT(*) AS n, COUNT(*) - COUNT(event_id) AS n_null,
       COUNT(DISTINCT event_id) AS n_distinct,
       CAST(MIN(event_id) AS DOUBLE) + 0.0 AS min_val,
       CAST(MAX(event_id) AS DOUBLE) + 0.0 AS max_val
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
       COUNT(DISTINCT user_id),
       CAST(MIN(user_id) AS DOUBLE) + 0.0, CAST(MAX(user_id) AS DOUBLE) + 0.0
FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
       COUNT(DISTINCT value),
       -- min/max are SELECTIONS of identically-computed doubles — raw
       -- values are bit-identical cross-engine and ROUND(x, 6) is ITSELF
       -- repr-vs-binary ambiguous on .{6}5-boundary values (r14 class-24
       -- finding: 1024.7775725 → Spark .777573 / DuckDB .777572), so the
       -- r10 rule applies: never ROUND a selection. + 0.0 normalizes a
       -- selected -0.0 (negzero rule).
       CAST(MIN(value) AS DOUBLE) + 0.0, CAST(MAX(value) AS DOUBLE) + 0.0
FROM events
""",
)
def q_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE/data-quality pass a pipeline runs
    before trusting a new drop): per numeric column row count, null count,
    exact distinct, min/max. One aggregate per column unioned — each is a
    partial+final agg, so the profile costs one scan per column batch and
    no row-level shuffle. At 100 TB swap COUNT(DISTINCT) for HLL
    (approx_count_distinct) per the q_agg_approx_distinct dial."""
    ev = t(spark, sf_dir, "events")

    def profile(col: str) -> DataFrame:
        return ev.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n"),
            (F.count("*") - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            (F.min(col).cast("double") + F.lit(0.0)).alias("min_val"),
            (F.max(col).cast("double") + F.lit(0.0)).alias("max_val"),
        )

    return profile("event_id").unionByName(profile("user_id")).unionByName(
        profile("value")
    )


@query("q_agg_approx_quantile")  # rows-only: sketch values are engine-specific
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per event_type via the KLL-style
    approx_percentile sketch (relative rank error <= 1/accuracy) — the
    at-scale substitute for exact percentile's per-group value collection:
    sketches merge associatively, so the partial+final aggregate shape is
    preserved and per-group state is O(accuracy), not O(rows).
    Rows-only (sketch internals are engine-specific); the rank-error bound
    versus the exact percentile is asserted in tests/test_rows_only.py."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("p90_approx"),
        F.count("*").alias("n"),
    )


@query("q_agg_hll_merge")  # rows-only: DataSketches HLL internals are engine-specific
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL): build
    one sketch per half of the data, hll_union them, and estimate — next
    to the single-pass whole-table sketch and the exact count. The merge
    path is WHY sketches scale: partial sketches combine associatively
    across partitions/days/tiers, so a 100 TB rollup never re-scans
    history. Sketch state is register-max, so the estimate is independent
    of row order and partitioning (asserted with the exact-count error
    bound in tests/test_rows_only.py)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") % 2 == 0).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    b = ev.filter(F.col("user_id") % 2 == 1).agg(
        F.hll_sketch_agg("user_id").alias("sk_b")
    )
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_whole"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    merged = a.crossJoin(b).select(
        F.hll_sketch_estimate(F.hll_union("sk", "sk_b")).alias("est_merged")
    )
    return merged.crossJoin(whole)


@query(
    "q_rollup_incremental",
    oracle=f"""
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM events GROUP BY 1, 2
""",
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier rollup: daily partial aggregates re-aggregated to monthly —
    and the result must equal the direct monthly aggregate (the oracle),
    because decimal sums are exactly associative. This is the pattern that
    lets a 100 TB warehouse maintain rollups incrementally (aggregate each
    new day once, re-aggregate partials) instead of re-scanning history;
    it is exact, unlike float sums, for the same reason the determinism
    contract holds."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.dayofmonth("ts").cast("int").alias("d"),
    ).agg(
        F.count("*").alias("pn"),
        cents_sum("value", 18, 6).alias("psum"),
    )
    return daily.groupBy("y", "m").agg(
        F.sum("pn").alias("n"),
        (F.sum("psum").cast("double") / F.lit(1000000.0)).alias("sum_value"),
    )


@query(
    "q_agg_mode",
    oracle="""
SELECT user_id, event_type AS modal_type, n AS modal_n
FROM (
  SELECT user_id, event_type, COUNT(*) AS n,
         -- placement-independent NULLS FIRST tie-break (see q_agg_argmax)
         row_number() OVER (PARTITION BY user_id
                            ORDER BY COUNT(*) DESC,
                                     (event_type IS NOT NULL) ASC, COALESCE(event_type, '') ASC) AS rn
  FROM events GROUP BY user_id, event_type)
WHERE rn = 1
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key modal value (each user's most frequent event type, ties to
    the lexicographically first type): count aggregate then per-user
    arg-max — the deterministic form of mode()/max_by(), both of which
    leave ties unspecified. Two partial+final aggregates; the arg-max
    input is |users|×|types| rows."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("modal_n"),
        )
    )


@query(
    "q_retention",
    oracle=f"""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS wk FROM events e)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST(({sql_ms("a.wk")} - {sql_ms("f.cohort")}) // 604800000 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN first_seen f ON f.user_id = a.user_id
GROUP BY 1, 2
""",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, counted
    in every later week they were active — the (cohort, offset) grid a
    product dashboard plots. Two aggregates + one join, all keyed on
    user_id then (cohort, offset); both engines truncate weeks to Monday
    so the offset is an exact multiple."""
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                (F.unix_millis("wk") - F.unix_millis("cohort")) / 604800000
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_outliers",
    oracle=f"""
WITH stats AS (
  SELECT event_type,
         {sql_davg("value", "mu", 18, 6)},
         ROUND(stddev_samp({sql_finite("value")}), 6) AS sigma
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.mu) / s.sigma, 4) AS z
FROM events e JOIN stats s ON s.event_type = e.event_type
WHERE s.sigma > 0 AND abs(ROUND((e.value - s.mu) / s.sigma, 4)) > 2.5
""",
)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly filter per event type: group stats (decimal-exact
    mean, 6dp-rounded sample stddev) broadcast back onto the stream,
    events beyond |z| > 2.5 flagged — the data-quality gate before
    training ingestion. One aggregate + one broadcast join; no second
    scan shuffle. The sigma > 0 guard keeps a constant-valued group from
    tripping ANSI division (CLAUDE.md: guard data-dependent denominators)."""
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        davg("value", "mu", 18, 6),
        F.round(F.stddev_samp(finite(F.col("value"))), 6).alias("sigma"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


@query(
    "q_fk_orphans",
    oracle="""
SELECT 'orders_without_customer' AS check_name, COUNT(*) AS n_orphans FROM (
  SELECT o.o_orderkey FROM orders o
  LEFT JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_custkey IS NULL)
UNION ALL
SELECT 'lineitem_without_order', COUNT(*) FROM (
  SELECT l.l_orderkey FROM lineitem l
  LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey IS NULL)
UNION ALL
SELECT 'events_without_known_user', COUNT(*) FROM (
  SELECT e.event_id FROM events e
  LEFT JOIN customer c ON c.c_custkey = e.user_id
  WHERE c.c_custkey IS NULL)
""",
)
def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for each foreign-key edge via anti-join (orders→customer,
    lineitem→orders, events→customer). The ingest gate that catches a
    half-loaded dimension before a training join silently drops rows.
    Each check is one anti-join keyed on the FK — broadcast when the
    parent is a dim, shuffle otherwise, AQE decides."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def check(name: str, child: DataFrame, key, parent: DataFrame, pkey) -> DataFrame:
        return (
            child.join(parent, child[key] == parent[pkey], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("check_name"), "n_orphans")
        )

    return (
        check("orders_without_customer", o, "o_custkey", c, "c_custkey")
        .unionByName(check("lineitem_without_order", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(check("events_without_known_user", ev, "user_id", c, "c_custkey"))
    )


@query(
    "q_revenue_share",
    oracle=f"""
WITH seg AS (
  SELECT c.c_mktsegment,
         {sql_dsum("o.o_totalprice", "seg_rev", 25, 6)}
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_mktsegment)
SELECT c_mktsegment, seg_rev,
       ROUND(seg_rev / NULLIF(SUM(seg_rev) OVER (), 0), 6) AS rev_share
FROM seg
""",
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: per-segment revenue and its share of the total via
    an unpartitioned window over the AGGREGATED series (5 rows — the
    global window is free after the rollup; running it pre-aggregate
    would serialize the whole table through one partition). Decimal sums
    then one double division, deterministic on both engines; the total is
    data-dependent (an all-zero-price corpus zeroes it), so the division
    routes through try_divide/NULLIF per the cross-engine rule."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            dsum("o_totalprice", "seg_rev", 25, 6)
        )
    )
    from pyspark.sql import Window

    return seg.select(
        "c_mktsegment",
        "seg_rev",
        F.round(
            F.try_divide(
                F.col("seg_rev"), F.sum("seg_rev").over(Window.partitionBy())
            ),
            6,
        ).alias("rev_share"),
    )


# placement-independent NULLS FIRST encoding (see q_agg_argmax)
_PREV_TS = (
    "lag(ts) OVER (PARTITION BY user_id"
    " ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,"
    " (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC)"
)


@query(
    "q_gap_histogram",
    oracle=f"""
WITH gaps AS (
  SELECT ({sql_ms("ts")} - {sql_ms(_PREV_TS)}) // 1000 AS gap_s
  FROM events)
SELECT CASE WHEN gap_s < 60 THEN '<1m'
            WHEN gap_s < 3600 THEN '1m-1h'
            WHEN gap_s < 86400 THEN '1h-1d'
            ELSE '>=1d' END AS gap_bucket,
       COUNT(*) AS n
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY gap_bucket
""",
)
def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user (the empirical basis for the
    30-minute session threshold): per-user lag, integer-second gaps into
    coarse buckets, one hash aggregate. The analytics behind choosing
    GAP_MS in the sessionizer rather than assuming it."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.floor(
        (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))) / 1000
    )
    bucket = (
        F.when(gap_s < 60, "<1m")
        .when(gap_s < 3600, "1m-1h")
        .when(gap_s < 86400, "1h-1d")
        .otherwise(">=1d")
    )
    return (
        ev.select(gap_s.alias("gap_s"), bucket.alias("gap_bucket"))
        .filter(F.col("gap_s").isNotNull())
        .groupBy("gap_bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_calendar_dim",
    oracle="""
SELECT CAST(d AS VARCHAR)[:10] AS day,
       CAST(isodow(d) AS INT) AS dow,
       CAST(month(d) AS INT) AS m,
       CAST(quarter(d) AS INT) AS q,
       isodow(d) >= 6 AS is_weekend
FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                    TIMESTAMP '1995-12-31',
                                    INTERVAL 1 DAY)) AS d)
""",
)
def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (one year of days with ISO weekday,
    month, quarter, weekend flag) — the zero-input generator every star
    schema joins for fiscal rollups; at scale it's a broadcast table by
    construction. sequence+explode on Spark ≙ generate_series in the
    oracle; dates travel as strings per the no-DATE rule."""
    days = spark.sql(
        "SELECT explode(sequence(timestamp'1995-01-01', "
        "timestamp'1995-12-31', interval 1 day)) AS d"
    )
    dow = F.expr("extract(dayofweek_iso FROM d)").cast("int")
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        dow.alias("dow"),
        F.month("d").cast("int").alias("m"),
        F.quarter("d").cast("int").alias("q"),
        (dow >= 6).alias("is_weekend"),
    )


@query(
    "q_ab_test",
    oracle=f"""
WITH assigned AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
         value
  FROM events WHERE event_type = 'purchase'),
stats AS (
  SELECT variant,
         CAST(COUNT({sql_finite("value", route_exp(18, 2))}) AS BIGINT) AS n,
         {sql_davg("value", "mean_v")},
         ROUND(VAR_SAMP({sql_finite("value", route_exp(18, 2))}), 6) AS var_v
  FROM assigned GROUP BY variant),
wide AS (
  SELECT
    MAX(CASE WHEN variant = 'control' THEN n END) AS n_c,
    MAX(CASE WHEN variant = 'control' THEN mean_v END) AS mean_c,
    MAX(CASE WHEN variant = 'control' THEN var_v END) AS var_c,
    MAX(CASE WHEN variant = 'treatment' THEN n END) AS n_t,
    MAX(CASE WHEN variant = 'treatment' THEN mean_v END) AS mean_t,
    MAX(CASE WHEN variant = 'treatment' THEN var_v END) AS var_t
  FROM stats)
SELECT n_c, n_t,
       mean_c AS mean_control,
       mean_t AS mean_treatment,
       mean_t - mean_c AS lift,
       ROUND((mean_t - mean_c)
             / NULLIF(sqrt(var_c / n_c + var_t / n_t), 0), 6)
         AS t_statistic
FROM wide
""",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis (Welch's t): users hash-split into control/
    treatment, per-variant purchase-value mean and sample variance, lift
    and t-statistic — the readout every experimentation platform computes.
    One scan + one two-group aggregate; the variant pivot is a 2-row
    conditional MAX (no join, no second scan). Means go through the
    decimal-exact route and stay unrounded (IEEE ops on engine-identical
    inputs; ROUND(6) splits the engines once ULP(x) > 1e-6); n, mean and
    variance count one population, the route's finite guard. Variance
    and the t ratio land under ROUND(6), matching the repo's
    cross-engine float rules. Variant assignment by user_id
    parity is the deterministic stand-in for the salted-hash bucketing of
    a real assignment service (q_sample_hash shows that machinery)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    assigned = ev.select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        "value",
    )
    stats = assigned.groupBy("variant").agg(
        F.count(finite("value", route_exp(18, 2))).cast("bigint").alias("n"),
        davg("value", "mean_v"),
        F.round(F.var_samp(finite("value", route_exp(18, 2))), 6).alias("var_v"),
    )

    def pick(col, variant):
        return F.max(F.when(F.col("variant") == variant, F.col(col)))

    wide = stats.agg(
        pick("n", "control").alias("n_c"),
        pick("mean_v", "control").alias("mean_c"),
        pick("var_v", "control").alias("var_c"),
        pick("n", "treatment").alias("n_t"),
        pick("mean_v", "treatment").alias("mean_t"),
        pick("var_v", "treatment").alias("var_t"),
    )
    return wide.select(
        "n_c",
        "n_t",
        F.col("mean_c").alias("mean_control"),
        F.col("mean_t").alias("mean_treatment"),
        (F.col("mean_t") - F.col("mean_c")).alias("lift"),
        F.round(
            F.try_divide(
                F.col("mean_t") - F.col("mean_c"),
                F.sqrt(
                    F.col("var_c") / F.col("n_c") + F.col("var_t") / F.col("n_t")
                ),
            ),
            6,
        ).alias("t_statistic"),
    )


@query(
    "q_rfm",
    oracle=f"""
WITH base AS (
  SELECT user_id,
         MAX(ts) AS last_seen,
         CAST(COUNT(*) AS BIGINT) AS freq,
         {sql_dsum("value", "monetary")}
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
scored AS (
  SELECT user_id,
         -- placement-independent NULLS encodings (see q_agg_argmax):
         -- last_seen/monetary can be NULL for an all-NULL-ts / quarantined-
         -- value user
         CAST(ntile(4) OVER (ORDER BY (last_seen IS NOT NULL) DESC, COALESCE(last_seen, TIMESTAMP '1970-01-01') DESC,
                                      (user_id IS NOT NULL) ASC, COALESCE(user_id, 0) ASC) AS BIGINT) AS r,
         CAST(ntile(4) OVER (ORDER BY freq DESC,
                                      (user_id IS NOT NULL) ASC, COALESCE(user_id, 0) ASC) AS BIGINT) AS f,
         CAST(ntile(4) OVER (ORDER BY (monetary IS NOT NULL) DESC, COALESCE(monetary, 0.0) DESC,
                                      (user_id IS NOT NULL) ASC, COALESCE(user_id, 0) ASC) AS BIGINT) AS m
  FROM base)
SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_users
FROM scored GROUP BY r, f, m
ORDER BY r, f, m
""",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) — the
    classic customer-value grid every growth team asks for: per-user
    purchase aggregates, three quartile ranks (unique tie-break on
    user_id, per the cross-engine window rule), then the segment-count
    grid. One fact aggregate; the ntile windows order only the |users|
    relation. Monetary goes through the decimal route so quartile
    boundaries can't drift with accumulation order."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        dsum("value", "monetary"),
    )
    scored = base.select(
        "user_id",
        F.ntile(4)
        .over(Window.orderBy(F.col("last_seen").desc(), "user_id"))
        .cast("bigint")
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.col("freq").desc(), "user_id"))
        .cast("bigint")
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), "user_id"))
        .cast("bigint")
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("r", "f", "m")
    )


@query(
    "q_gap_fill",
    oracle="""
WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt FROM events),
types AS (SELECT DISTINCT event_type FROM events),
actual AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT d.dt, t.event_type, COALESCE(a.n, 0) AS n,
       CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS INT) AS was_missing
FROM days d CROSS JOIN types t
LEFT JOIN actual a ON a.dt = d.dt AND a.event_type = t.event_type
ORDER BY d.dt, t.event_type
""",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap filling: a (day × event-type) spine left-joined with
    the actual counts so missing combinations surface as explicit zeros —
    the step every dashboard and forecast model needs before it can tell
    'no data' from 'no traffic' (q_resample_ffill fills VALUES forward;
    this fills GROUP MEMBERSHIP). Both spine dimensions are tiny distinct
    aggregates, the cross join is broadcast-sized by construction, and
    the fact table is touched exactly once."""
    ev = t(spark, sf_dir, "events")
    dt = F.date_format("ts", "yyyy-MM-dd")
    days = ev.select(dt.alias("dt")).distinct()
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(dt.alias("a_dt"), F.col("event_type").alias("a_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        days.crossJoin(F.broadcast(types))
        .join(
            actual,
            (F.col("dt") == F.col("a_dt")) & (F.col("event_type") == F.col("a_type")),
            "left",
        )
        .select(
            "dt",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("int").alias(
                "was_missing"
            ),
        )
        .orderBy("dt", "event_type")
    )


@query(
    "q_attribution",
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')),
attributed AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(click_id IGNORE NULLS) OVER w AS attributed_click_id,
         last_value(click_ts IGNORE NULLS) OVER w AS attr_ts
  FROM tagged
  -- placement-independent NULLS FIRST encoding (see q_agg_argmax)
  WINDOW w AS (PARTITION BY user_id
               ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                        (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, value, attributed_click_id,
       CAST({sql_ms("ts")} - {sql_ms("attr_ts")} AS BIGINT) AS lag_ms
FROM attributed WHERE event_type = 'purchase'
ORDER BY event_id
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the most recent
    preceding click of the same user — the marketing-analytics join that
    is really a carry-forward window, not a join at all: clicks and
    purchases interleave in one (ts, event_id)-ordered pass per user, and
    last_value(IGNORE NULLS) carries the latest click down to each
    purchase. One shuffle on user_id, running state one (id, ts) pair;
    the two-relation as-of formulation (q_join_asof) would shuffle both
    sides separately for the same answer. Purchases with no prior click
    surface as NULL (organic), not dropped."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = tagged.select(
        "event_id",
        "user_id",
        "value",
        "event_type",
        "ts",
        F.last("click_id", ignorenulls=True).over(w).alias("attributed_click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("attr_ts"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "value",
            "attributed_click_id",
            (F.unix_millis("ts") - F.unix_millis("attr_ts"))
            .cast("bigint")
            .alias("lag_ms"),
        )
        .orderBy("event_id")
    )


@query(
    "q_cohort_ltv",
    oracle=f"""
WITH first_seen AS (
  SELECT user_id, time_bucket(INTERVAL '1 week', MIN(ts)) AS cohort
  FROM events GROUP BY user_id),
revenue AS (
  SELECT f.cohort, e.user_id,
         CAST(floor(({sql_ms("time_bucket(INTERVAL '1 week', e.ts)")}
                     - {sql_ms("f.cohort")}) / 604800000.0) AS BIGINT)
           AS week_offset,
         {sql_cents_term("e.value")} AS v
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL),
weekly AS (
  SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_offset,
         CAST(SUM(v) AS DOUBLE) / 1.0e2 AS revenue
  FROM revenue GROUP BY 1, 2)
SELECT cohort_week, week_offset, revenue,
       {sql_exact_sum("revenue", over="(PARTITION BY cohort_week ORDER BY week_offset NULLS FIRST ROWS UNBOUNDED PRECEDING)", guard=False)} AS cumulative_ltv
FROM weekly ORDER BY cohort_week, week_offset
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: purchase revenue per (signup-cohort
    week, weeks-since-cohort), with the running cumulative — the LTV grid
    behind every payback-period decision (the money-weighted sibling of
    q_retention's activity counts). Per-user first-seen is one aggregate;
    revenue shuffles once to the (cohort, offset) grain; the cumulative
    window orders only the tiny weekly grid, and BOTH the weekly sum and
    the running sum go through decimal so curve points are
    accumulation-order exact."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    # a revenue point needs a week: NULL-ts purchases are quarantined
    # symmetrically (edge corpus — a NULL week_offset group otherwise
    # appears on exactly one side)
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    weekly = (
        purchases.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                (
                    F.unix_millis(F.date_trunc("week", F.col("ts")))
                    - F.unix_millis("cohort")
                )
                / 604800000.0
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(dsum("value", "revenue"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.withColumn(
        "cumulative_ltv",
        exact_sum("revenue", over=w, guard=False),
    ).orderBy("cohort_week", "week_offset")


BASKET_MIN_SUPPORT = 3  # orders containing the pair


@query(
    "q_basket_rules",
    oracle=f"""
WITH baskets AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
         FROM baskets GROUP BY l_partkey),
pair AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT})
SELECT p1, p2, n_pair,
       -- RAW IEEE quotients, no ROUND: all operands are exact integers
       -- (counts < 2^53; the lift numerator/denominator products stay
       -- exact too), so the correctly-rounded result is bit-identical
       -- across engines — ROUND would only add decimal-halfway ties
       -- where engine rounding modes diverge (round-10 finding)
       CAST(n_pair AS DOUBLE) / no.n AS support,
       CAST(n_pair AS DOUBLE) / i1.n_item AS confidence,
       CAST(n_pair AS DOUBLE) * no.n / (i1.n_item * i2.n_item) AS lift
FROM pair
JOIN item i1 ON i1.l_partkey = p1
JOIN item i2 ON i2.l_partkey = p2
CROSS JOIN n_orders no
ORDER BY lift DESC, p1, p2
""",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the co-purchase relation
    (support / confidence / lift for part pairs above a support floor) —
    the recommender-adjacent readout built on the SAME bounded pair
    explode as q_graph_pagerank: per-order distinct items, self-join on
    orderkey (k² per order, k = lines-per-order), then three ratio
    columns against item and order totals. The support floor (HAVING)
    cuts the pair relation before the dimension joins; the order count is
    a broadcast 1-row aggregate. Rule metrics are ratios of exact counts,
    rounded at 6 — deterministic everywhere."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    from kinesis_test_spark.operators.dedup import order_item_pairs

    pair = (
        order_item_pairs(li)
        .groupBy(F.col("pa").alias("p1"), F.col("pb").alias("p2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= BASKET_MIN_SUPPORT)
    )
    i1 = item.select(F.col("l_partkey").alias("k1"), F.col("n_item").alias("n1"))
    i2 = item.select(F.col("l_partkey").alias("k2"), F.col("n_item").alias("n2"))
    return (
        pair.join(F.broadcast(i1), F.col("p1") == F.col("k1"))
        .join(F.broadcast(i2), F.col("p2") == F.col("k2"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_pair",
            (F.col("n_pair").cast("double") / F.col("n")).alias("support"),
            (F.col("n_pair").cast("double") / F.col("n1")).alias("confidence"),
            (
                F.col("n_pair").cast("double") * F.col("n") / (F.col("n1") * F.col("n2"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
    )


BOOTSTRAP_B = 20  # resamples; thresholds below are Poisson(1) pmf on hex16


@query(
    "q_bootstrap_ci",
    oracle=f"""
WITH p AS (SELECT event_id, value FROM events WHERE event_type = 'purchase'),
rs AS (
  SELECT b, value,
         CASE WHEN h < 24109 THEN 0 WHEN h < 48218 THEN 1
              WHEN h < 60273 THEN 2 ELSE 3 END AS w
  FROM (SELECT b, event_id, value,
               ((strpos('0123456789abcdef', substr(md5('bs|' || CAST(b AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('bs|' || CAST(b AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('bs|' || CAST(b AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('bs|' || CAST(b AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)), 4, 1)) - 1)) AS h
        FROM p, (SELECT unnest(generate_series(0, 19)) AS b))),
means AS (
  SELECT b, {sql_exact_sum("value * w")}
            / NULLIF(SUM(w), 0) AS m
  FROM rs GROUP BY b),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sql_davg("value", "mv")}
  FROM p),
se AS (SELECT ROUND(stddev_samp(m), 6) AS se_boot FROM means)
SELECT base.n, base.mv AS mean_value, se.se_boot,
       base.mv - 2 * se.se_boot AS ci_lo,
       base.mv + 2 * se.se_boot AS ci_hi
FROM base, se
""",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean — the resampling
    form distributed systems actually run (per-row Poisson(1) weights
    instead of with-replacement draws, so no global shuffle per
    resample). Weights come from the portable hash against Poisson pmf
    thresholds: the SAME resamples materialize on any engine, run, or
    partitioning — a reproducible CI, where seeded rand() would move the
    interval between runs. Cost: one B-way explode collapsed map-side to
    B partial means; the CI combine is a 20-row aggregate. The mean and
    the CI bounds are IEEE combinations of engine-identical inputs (the
    exact mean, the ROUNDed se), so they are not ROUNDed again: ROUND(x, 6)
    itself splits the engines once x's ULP exceeds 1e-6 (|x| ≳ 1e10)."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    p = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "value")
    b = spark.range(BOOTSTRAP_B).toDF("b")
    h = spark_hex16(
        F.concat(
            F.lit("bs|"),
            F.col("b").cast("string"),
            F.lit("|"),
            F.col("event_id").cast("string"),
        )
    )
    w = (
        F.when(h < 24109, 0)
        .when(h < 48218, 1)
        .when(h < 60273, 2)
        .otherwise(3)
    )
    means = (
        p.crossJoin(F.broadcast(b))
        .select("b", "value", w.alias("w"))
        .groupBy("b")
        .agg(
            F.try_divide(
                exact_sum(F.col("value") * F.col("w")),
                F.sum("w"),
            ).alias("m")
        )
    )
    base = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg("value", "mv"),
    )
    se = means.agg(F.round(F.stddev_samp("m"), 6).alias("se_boot"))
    return (
        base.crossJoin(F.broadcast(se))
        .select(
            "n",
            F.col("mv").alias("mean_value"),
            "se_boot",
            (F.col("mv") - 2 * F.col("se_boot")).alias("ci_lo"),
            (F.col("mv") + 2 * F.col("se_boot")).alias("ci_hi"),
        )
    )
