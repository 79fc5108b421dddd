"""Subqueries & CTEs — scalar, IN, correlated EXISTS, multi-level WITH.

NS surface (SURVEY.md §2B): the full SQL query shape a reference user's
analytics would need. All run through spark.sql on registered views —
Catalyst decorrelates the correlated forms into joins (no per-row
re-execution, which is what makes them viable at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_test_spark.functions.exact import sql_davg, sql_dsum, sql_exact_sum, sql_finite
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import views

# scalar subquery threshold computed exactly (decimal) so both engines agree
_SCALAR_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (SELECT {sql_davg('o_totalprice', 'avg_price')} FROM orders)
"""


@query("q_subquery_scalar", oracle=_SCALAR_SQL)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above 1.5× the (exact) average price — scalar subquery."""
    views(spark, sf_dir)
    return spark.sql(_SCALAR_SQL)


_IN_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


@query("q_subquery_in", oracle=_IN_SQL)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return spark.sql(_IN_SQL)


_EXISTS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


@query("q_subquery_exists", oracle=_EXISTS_SQL)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with an extra predicate — decorrelated by Catalyst
    into a semi join, not a per-row probe."""
    views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_CTE_SQL = f"""
WITH cust_orders AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum("o_totalprice", "total_spent")}
  FROM orders GROUP BY o_custkey
), segments AS (
  SELECT c_custkey, c_mktsegment FROM customer
)
SELECT s.c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_exact_sum("co.total_spent", guard=False)} AS segment_revenue,
       CAST(SUM(co.n_orders) AS BIGINT) AS segment_orders
FROM segments s JOIN cust_orders co ON co.o_custkey = s.c_custkey
GROUP BY s.c_mktsegment
"""


@query("q_cte", oracle=_CTE_SQL)
def q_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return spark.sql(_CTE_SQL)


_RECURSIVE_SQL = """
WITH RECURSIVE users AS (SELECT DISTINCT user_id FROM events),
edges AS (SELECT user_id AS child,
                 CAST(floor((user_id - 1) / 2) AS BIGINT) AS parent
          FROM users WHERE user_id >= 1),
walk(node, depth) AS (
  SELECT user_id, CAST(0 AS BIGINT) FROM events WHERE user_id = 0 GROUP BY user_id
  UNION ALL
  SELECT e.child, w.depth + 1 FROM walk w JOIN edges e ON e.parent = w.node)
SELECT node AS user_id, depth FROM walk ORDER BY user_id
"""


@query("q_recursive_cte", oracle=_RECURSIVE_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) through the SQL-string API
    — the SAME ANSI text runs on Spark and DuckDB (q_tpch_q6 pattern):
    walk a derived referral tree (child u → parent ⌊(u-1)/2⌋) from the
    root and emit each user's depth. Each recursive step is one join +
    union — the same per-iteration shape as the hand-rolled loops in
    q_dedup_clusters/q_graph_pagerank, but planned by the engine, with
    iteration count bounded by the tree depth (log |users|)."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


_LATERAL_SQL = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o,
LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
         WHERE l_orderkey = o.o_orderkey
         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
WHERE o.o_orderkey < 100
ORDER BY o.o_orderkey, l_extendedprice DESC, l_linenumber
"""


@query("q_join_lateral", oracle=_LATERAL_SQL)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    top-2-per-order shape expressed as the SQL standard writes it (the
    window-function formulation is q_topk_per_group; LATERAL is the other
    door users arrive through). Same ANSI text on both engines. Catalyst
    decorrelates it into a ranked join rather than executing one subquery
    per outer row — per-row re-execution would be the scale-killer."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q_sql_params",
    oracle="""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
FROM customer WHERE c_acctbal > 5000.0 AND c_mktsegment <> 'MACHINERY'
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql named args): values bind as literals
    through the API instead of string interpolation — the
    injection-proof path a query service uses. The bound plan is
    identical to the literal one (the parameters fold before
    optimization), so pushdown/pruning behave exactly as if the user had
    typed the constants."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > :min_bal AND c_mktsegment <> :excluded
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        args={"min_bal": 5000.0, "excluded": "MACHINERY"},
    )


@query(
    "q_sql_script",
    oracle=f"""
WITH tot AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS target FROM lineitem
             WHERE abs(l_quantity) < 1.0e12),
cum AS (
  -- The NULL-k (out-of-domain) group must never enter any cumulative
  -- count: the engine side is a procedural loop whose `l_quantity <= k
  -- AND abs(..) < 1e12` count never admits such rows. r8 stated this via
  -- ORDER BY k NULLS LAST, but DuckDB 1.0's parallel window sort places
  -- NULL keys nondeterministically even with an explicit NULLS clause
  -- (r9 verdict) — so the group is EXCLUDED from the chained relation
  -- outright, which is the same contract made placement-independent.
  -- Bucket by CEIL, not TRUNC: the loop's count(l_quantity <= k) admits
  -- a fractional quantity q exactly from k = ceil(q) (r13 singleton
  -- review; equal on the integer-valued fixture).
  SELECT k, CAST(SUM(n) OVER (ORDER BY k) AS BIGINT) AS cnt
  FROM (SELECT CAST(CEIL({sql_finite("l_quantity")}) AS INT) AS k, COUNT(*) AS n
        FROM lineitem GROUP BY 1)
  WHERE k IS NOT NULL),
-- target > 0 guard + GREATEST clamp mirror the loop exactly: with
-- target = 0 (n_rows <= 1, the singleton/empty regime) the loop body
-- never runs and the script reports its k = 0 / cnt = 0 initializers;
-- with target > 0 the first checked cutoff is k = 1, so a crossing in a
-- non-positive bucket still reports k = 1 (GREATEST skips the NULL of an
-- empty MIN per Postgres semantics, but target > 0 makes hit non-empty:
-- cum's max cnt is the full in-domain count >= target by construction).
hit AS (SELECT GREATEST(MIN(k), 1) AS k FROM cum, tot
        WHERE cnt >= tot.target AND tot.target > 0)
SELECT CAST(CASE WHEN tot.target = 0 THEN 0 ELSE COALESCE(hit.k, 0) END AS INT)
         AS median_qty_ceil,
       CAST(CASE WHEN tot.target = 0 THEN 0
                 ELSE COALESCE((SELECT MAX(cnt) FROM cum WHERE k <= hit.k), 0)
            END AS BIGINT) AS n_at_or_below,
       tot.target
FROM hit, tot
""",
)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4's BEGIN/DECLARE/WHILE procedural blocks,
    spark.sql.scripting.enabled): a stepped threshold search — raise the
    quantity cutoff until it covers half the table — written the way a
    procedural analyst writes it, with each loop iteration issuing a real
    query. The ORACLE is the honest set-based equivalent (cumulative
    count + MIN over qualifying thresholds): same answer, ONE scan
    instead of ~median-many — which is also the 100 TB verdict on this
    surface: scripting is for orchestration logic, not for loops that
    re-scan the fact table (the engine supports both; the repo's other
    245 operators are the set-based habit)."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE target BIGINT;
          DECLARE k INT = 0;
          DECLARE cnt BIGINT = 0;
          -- target over the IN-DOMAIN rows only: an out-of-domain quantity
          -- (abs >= 1e12 / non-finite) can never be admitted by the loop's
          -- count, so counting it into target would make the target
          -- unreachable and the WHILE non-terminating (r13 singleton review)
          SET target = (SELECT COUNT(*) DIV 2 FROM lineitem
                        WHERE abs(l_quantity) < 1.0e12);
          WHILE cnt < target DO
            SET k = k + 1;
            SET cnt = (SELECT COUNT(*) FROM lineitem
                       WHERE abs(l_quantity) < 1.0e12 AND l_quantity <= k);
          END WHILE;
          SELECT k AS median_qty_ceil, cnt AS n_at_or_below, target;
        END
        """
    )


def _pipe_sql() -> str:
    """The pipe-syntax body (engine side). The oracle states the same
    dataflow in classic ANSI form — DuckDB 1.0 has no |> operator."""
    # sql_dsum's guard text is engine-portable (runs as Spark SQL too).
    return f"""
FROM orders
|> WHERE o_orderdate IS NOT NULL
|> EXTEND CAST(year(o_orderdate) AS BIGINT) AS yr
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum("o_totalprice", "total")}
   GROUP BY yr, o_orderpriority
|> WHERE n >= 3
|> SELECT yr, o_orderpriority, n, total
"""


def _pipe_oracle() -> str:
    return f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum("o_totalprice", "total")}
FROM orders WHERE o_orderdate IS NOT NULL
GROUP BY 1, 2 HAVING COUNT(*) >= 3
"""


@query("q_sql_pipe", oracle=_pipe_oracle())
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's |> operator chain: FROM |> WHERE |>
    EXTEND |> AGGREGATE |> WHERE |> SELECT) — the linear-dataflow SQL
    dialect, same logical plan as the classic GROUP BY/HAVING form the
    oracle states, so Catalyst optimizes both identically (probed: the
    pipe text parses and runs on this build). The monetary SUM rides the
    shared decimal route (sql_dsum — its guard text is engine-portable
    and appears verbatim in BOTH the pipe body and the oracle); timeless
    orders are excluded explicitly on both sides; yr is BIGINT on both
    (Spark year() returns INT, DuckDB's returns BIGINT)."""
    from kinesis_test_spark.sources import views

    views(spark, sf_dir)
    return spark.sql(_pipe_sql())
