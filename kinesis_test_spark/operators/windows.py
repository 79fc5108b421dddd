"""Window functions: rank, lag/lead, frames, top-k per group.

Grounding: sessionization building blocks over the reference's clickstream
(`tealium_session_id`, /root/reference/record.json:3); rank/frames are NS.

Determinism: every window ORDER BY carries a unique tie-break key
(event_id / orderkey) — without it row_number/lag results are
engine- and run-dependent, which breaks both the oracle compare and
reproducibility on a cluster.

Scale: a window over PARTITION BY k shuffles once on k and sorts within
partitions; per-user clickstream windows co-partition with the streaming
sink's layout, so at 100 TB these ride an existing partitioning. Skewed
power-users are the risk — AQE skew handling plus bounded frames keep
state per key O(frame), not O(partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import exact_sum, finite, sql_exact_sum, sql_finite, sql_ms
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t


@query(
    "q_window_rank",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       row_number() OVER w AS rn,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC NULLS LAST, c_custkey NULLS FIRST)
""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "q_window_lag",
    oracle=f"""
SELECT event_id, user_id, ts,
       lag(event_id) OVER w AS prev_event_id,
       {sql_ms("ts")} - {sql_ms("lag(ts) OVER w")} AS gap_ms,
       lead(event_id) OVER w AS next_event_id
FROM events
-- placement-independent ASC NULLS FIRST (boolean prefix + NULL-free
-- COALESCE): DuckDB 1.0's parallel window sort misplaces NULL keys even
-- with an explicit NULLS clause (r9 verdict), so no nullable key may
-- reach the comparator. Semantics identical to
-- `ts NULLS FIRST, event_id NULLS FIRST`.
WINDOW w AS (PARTITION BY user_id
             ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                      (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC)
""",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user — the sessionization primitive
    (consumer.py's clickstream carries session ids, record.json:3)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))).alias("gap_ms"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@query(
    "q_window_frame",
    oracle=f"""
SELECT event_id, user_id, ts,
       -- placement-independent NULLS FIRST encoding (see q_window_lag)
       {sql_exact_sum("value", 18, 6, over="w")} AS running_value,
       COUNT(*) OVER
            (PARTITION BY user_id
             ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                      (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_last3
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                      (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frames. Running SUM goes through decimal: DuckDB computes
    windowed sums with a segment tree (different association order than
    Spark's sequential accumulation) so double bits would diverge."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        exact_sum(
            "value", 18, 6, over=w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("running_value"),
        F.count("*").over(w.rowsBetween(-2, Window.currentRow)).alias("n_last3"),
    )


@query(
    "q_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
  FROM orders) WHERE rn <= 3
""",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked-window filter. Catalyst's
    InferWindowGroupLimit pushes the rn<=k limit into the window sort, so
    each partition keeps a k-heap instead of fully sorting — the difference
    between O(n log k) and O(n log n) per key at scale."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 3)
    )


@query(
    "q_window_dist",
    oracle="""
SELECT c_custkey, c_acctbal,
       ntile(4) OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cdist,
       first_value(c_custkey) OVER w AS richest_in_segment,
       last_value(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC NULLS LAST, c_custkey NULLS FIRST
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS poorest_in_segment
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC NULLS LAST, c_custkey NULLS FIRST)
""",
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist) and
    first/last_value with an explicit full frame — last_value's default
    frame ends at CURRENT ROW, the classic trap, made explicit here."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("c_custkey").over(w).alias("richest_in_segment"),
        F.last("c_custkey").over(wfull).alias("poorest_in_segment"),
    )


_TRAILING_5M = (
    f"(PARTITION BY user_id ORDER BY {sql_ms('ts')}"
    " RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)"
)


@query(
    "q_window_range_frame",
    oracle=f"""
SELECT event_id, user_id, ts,
       {sql_exact_sum("value", 18, 6, over=_TRAILING_5M)} AS trailing_5m_value,
       COUNT(*) OVER {_TRAILING_5M} AS trailing_5m_events
FROM events
""",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) frame: per-user trailing 5-minute sum/count —
    unlike ROWS frames, peers at the same ordering value share the frame,
    so no tie-break is needed for determinism. The time axis is ordered as
    epoch millis (RANGE needs a numeric ordering)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-300000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        exact_sum("value", 18, 6, over=w).alias("trailing_5m_value"),
        F.count("*").over(w).alias("trailing_5m_events"),
    )


@query(
    "q_resample_ffill",
    oracle="""
WITH hourly AS (
  -- time_bucket, not date_trunc (validity-stats bug — see q_wow_change):
  -- hb is a WINDOW PARTITION key carrying real NULLs on a timeless row
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hb, value,
         -- placement-independent DESC NULLS LAST (see q_window_lag)
         row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                            ORDER BY (ts IS NOT NULL) DESC, COALESCE(ts, TIMESTAMP '1970-01-01') DESC,
                                     (event_id IS NOT NULL) DESC, COALESCE(event_id, 0) DESC,
                                     (value IS NOT NULL) DESC, COALESCE(value, 0.0) DESC) AS rn
  FROM events),
obs AS (SELECT user_id, hb, value FROM hourly WHERE rn = 1),
bounds AS (SELECT user_id, MIN(hb) AS lo, MAX(hb) AS hi FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb
  FROM bounds)
SELECT g.user_id, CAST(g.hb AS VARCHAR) AS hour_ts,
       last_value(o.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hb
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       o.value IS NOT NULL AS observed
FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.hb = g.hb
""",
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to an hourly grid with forward fill (the
    gap-filling step of feature pipelines): per user, take the LAST
    observation of each hour (arg-max on (ts, event_id) — deterministic),
    explode the user's [min, max] hour range into a dense grid, left-join
    observations, and carry the last non-null value forward.

    Scale: the grid explode is bounded by time range, not row count; the
    fill window shuffles once on user_id and rides the same partitioning
    as the sessionization family. The grid timestamp returns as a string
    (CLAUDE.md determinism rule)."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    hb = F.date_trunc("hour", F.col("ts"))
    obs = (
        ev.select("user_id", hb.alias("hb"), F.struct("ts", "event_id", "value").alias("r"))
        .groupBy("user_id", "hb")
        .agg(F.max("r").alias("r"))
        .select("user_id", "hb", F.col("r.value").alias("value"))
    )
    bounds = obs.groupBy("user_id").agg(F.min("hb").alias("lo"), F.max("hb").alias("hi"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hb"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "hb"], "left")
        .select(
            "user_id",
            F.date_format("hb", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("value", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("value").isNotNull().alias("observed"),
        )
    )


@query(
    "q_window_ntile",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(4) OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST) AS quartile
FROM customer
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment quartile assignment (the binning step of feature
    bucketing / stratified splits): ntile over a per-segment sort with the
    unique c_custkey tie-break. One shuffle on the segment key; no global
    order anywhere."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "q_scd2_intervals",
    oracle="""
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       -- placement-independent NULLS FIRST encoding (see q_window_lag)
       strftime(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                                        (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to
FROM events
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 interval build: each user event becomes a validity row
    [valid_from, valid_to) with valid_to = the next event's timestamp
    (NULL = current) — the slowly-changing-dimension history a warehouse
    derives from a change stream. One window per user with the event_id
    tie-break; rides the standard per-user partitioning."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
    )


# Shared with q_event_transitions_twophase (operators/twophase.py): one
# oracle, two physical strategies (see SESSIONIZE_ORACLE's note).
TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         -- placement-independent NULLS FIRST encoding (see q_window_lag)
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                                        (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC) AS prev_type
  FROM events)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


@query("q_event_transitions", oracle=TRANSITIONS_ORACLE)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over each user's event sequence (the
    behavioral fingerprint clickstream models train on): lag per user with
    the event_id tie-break, then one hash aggregate over (prev, next).
    One shuffle on user_id for the sequence + the tiny |types|² combine."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))


@query(
    "q_wow_change",
    oracle="""
WITH weekly AS (
  -- time_bucket, NOT date_trunc: DuckDB 1.0.0's date_trunc LOSES the
  -- validity flag in statistics propagation over a parquet scan, so the
  -- optimizer unsoundly folds every NULL-sensitive expression above it
  -- ((wk IS NULL) -> false, COALESCE(wk, x) -> wk, WHERE wk IS NOT NULL
  -- dropped entirely) and the window sort then places the real NULLs
  -- nondeterministically — the r9-verdict q_wow_change flake.
  -- time_bucket propagates validity correctly and is Monday-aligned like
  -- date_trunc('week').
  SELECT event_type, time_bucket(INTERVAL '1 week', ts) AS wk, COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, strftime(wk, '%Y-%m-%d') AS week_start, n,
       -- the timeless (NULL-wk) bucket is QUARANTINED from the lag chain by
       -- partitioning on (wk IS NULL): it is a single row per event_type, so
       -- its lag is NULL by construction, and no real week ever chains off it
       n - lag(n) OVER (PARTITION BY event_type, (wk IS NULL)
                        ORDER BY wk) AS wow_delta
FROM weekly
""",
)
def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type: weekly counts then a lag
    window over the aggregated series — the trend/alerting query every
    metrics pipeline runs. The window's input is |types|×|weeks| rows
    (post-aggregate), so the second pass is near-free at any scale.
    The NULL-week bucket (timeless rows) is quarantined from the lag
    chain on BOTH sides — see the oracle comment."""
    ev = t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type", F.col("wk").isNull()).orderBy("wk")
    return weekly.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "n",
        (F.col("n") - F.lag("n").over(w)).alias("wow_delta"),
    )


@query(
    "q_cumulative",
    oracle="""
WITH daily AS (
  -- time_bucket, not date_trunc (validity-stats bug — see q_wow_change)
  SELECT o_orderstatus, time_bucket(INTERVAL '1 day', o_orderdate) AS d, COUNT(*) AS n
  FROM orders GROUP BY 1, 2)
SELECT o_orderstatus, strftime(d, '%Y-%m-%d') AS day, n,
       -- (d IS NULL) quarantines the dateless bucket from the running chain
       -- (single row per status; its total is its own n) — same
       -- placement-independence contract as q_wow_change
       CAST(SUM(n) OVER (PARTITION BY o_orderstatus, (d IS NULL) ORDER BY d
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_total
FROM daily
""",
)
def q_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative flow: daily order counts per status with a running total
    — the backlog/burn-down series. Window runs over the AGGREGATED
    series (|statuses| × |days| rows), so the expensive pass is the one
    hash aggregate; the cumulative sum is integer (exact, no decimal
    detour needed)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderstatus", F.date_trunc("day", "o_orderdate").alias("d")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("o_orderstatus", F.col("d").isNull())
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "o_orderstatus",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.sum("n").over(w).alias("running_total"),
    )


@query(
    "q_window_rolling_median",
    oracle=f"""
SELECT event_id, user_id,
       -- + 0.0 normalizes IEEE negative zero (edge_negzero): DuckDB's
       -- quantile_cont returns the -0.0 ELEMENT where Spark's percentile
       -- interpolation arithmetic ((1-g)*a + g*b) emits +0.0; the
       -- identity is exact for every other value and keeps NULL NULL
       -- placement-independent NULLS FIRST encoding (see q_window_lag)
       ROUND(quantile_cont(fv, 0.5) OVER (
         PARTITION BY user_id
         ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                  (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) + 0.0 AS roll_med
FROM (SELECT event_id, user_id, ts,
             {sql_finite("value")} AS fv
      FROM events)
""",
)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over each user's last 5 events — the robust
    (outlier-immune) smoother a sensor/metrics pipeline prefers to a
    rolling mean. Spark runs the exact percentile aggregate AS a window
    function over the bounded ROWS frame; per-row state is the 5-element
    frame, so cost is O(frame) per row after the one user_id shuffle.
    6dp round on both engines (interpolation arithmetic)."""
    # finite guard (edge_nonfinite): a NaN inside the frame makes Spark's
    # percentile count it as the greatest value while DuckDB's windowed
    # quantile_cont NULLs the whole frame — exclude non-finite on both sides
    ev = t(spark, sf_dir, "events").withColumn("fv", finite(F.col("value")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        # + 0.0: computed-zero sign normalization (see oracle comment)
        (F.round(F.expr("percentile(fv, 0.5)").over(w), 6) + F.lit(0.0)).alias(
            "roll_med"
        ),
    )


@query(
    "q_time_weighted_avg",
    oracle=f"""
WITH seg AS (
  SELECT user_id, value,
         {sql_ms("ts")} AS t0,
         -- placement-independent NULLS FIRST encoding (see q_window_lag)
         lead({sql_ms("ts")}) OVER (PARTITION BY user_id
                                  ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                                           (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC) AS t1
  FROM events),
held AS (
  SELECT user_id, value, t1 - t0 AS dur_ms FROM seg WHERE t1 IS NOT NULL)
SELECT user_id,
       CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
       ROUND({sql_exact_sum("value * dur_ms", 28, 6)}
             / NULLIF(SUM(dur_ms), 0), 6) AS twa_value,
       CAST(COUNT(*) AS BIGINT) AS n_segments
FROM held GROUP BY user_id ORDER BY user_id
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average — the billing/telemetry primitive a plain AVG
    gets wrong: each reading holds until the next one, so its weight is
    the HOLD DURATION, not 1 (a user sitting on a high value for a day
    then flickering low for a second averages high). lead() builds the
    hold segments per user (unique event_id tie-break), integer
    millisecond durations weight the values, and the weighted sum runs
    through decimal(28,6) so the integral is partition-order exact. One
    user_id shuffle; per-key window state is a single lookahead row."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        F.unix_millis("ts").alias("t0"),
        F.lead(F.unix_millis("ts")).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    dur = F.col("t1") - F.col("t0")
    return (
        seg.select("user_id", "value", dur.alias("dur_ms"))
        .groupBy("user_id")
        .agg(
            F.sum("dur_ms").cast("bigint").alias("span_ms"),
            F.round(
                F.try_divide(
                    exact_sum(F.col("value") * F.col("dur_ms"), 28, 6),
                    F.sum("dur_ms"),
                ),
                6,
            ).alias("twa_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        )
        .orderBy("user_id")
    )
