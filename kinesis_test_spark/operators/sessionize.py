"""Batch sessionization — gap-based session ids from the event stream.

Reference grounding: the clickstream carries `tealium_session_id`
(/root/reference/record.json:3); this operator derives sessions from raw
events: a new session starts when the gap to the previous event of the
same user exceeds 30 minutes. Classic lag → boundary flag → running sum.

Scale: one shuffle on user_id shared by both window passes (same
partitioning), then a partial+final agg that reuses it. State per user is
O(1) streaming through the sorted partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import sql_ms
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t

GAP_MS = 30 * 60 * 1000

# Shared with q_sessionize_twophase (operators/twophase.py): the two-phase
# decomposition is an EXECUTION strategy for the same operator — one
# oracle, two physical plans.
SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR {sql_ms("ts")} - {sql_ms("lag(ts) OVER w")} > {GAP_MS}
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
), numbered AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


@query("q_sessionize", oracle=SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a session is a TIME construct: rows without an event time cannot be
    # placed in one — quarantined identically on both engines (edge
    # corpus; session_window drops them natively, the lag formulation
    # must state it)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_start = F.when(
        prev_ts.isNull() | ((F.unix_millis("ts") - F.unix_millis(prev_ts)) > GAP_MS), 1
    ).otherwise(0)
    numbered = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


# session_window semantics, shared by the batch keys below and the stream
# keys s_session / s_session_dynamic (one API, both execution models):
# Spark merges events closer than the gap, and a session ends at its last
# event's end (ts + gap).
SESSION_NATIVE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR {sql_ms("ts")} - {sql_ms("lag(ts) OVER w")} > {GAP_MS}
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
  FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, seq
"""


def session_counts(ev: DataFrame, gap: str | Column) -> DataFrame:
    """(user_id, session_start, session_end, n_events) per session_window
    of ``ev`` (a batch or streaming events relation); ``gap`` is a
    duration string or a per-event gap expression."""
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dynamic_gap() -> Column:
    """The per-event session gap: engaged clicks/views 30 min, others 60."""
    return F.when(F.col("event_type").isin("click", "view"), F.lit("30 minutes")).otherwise(
        F.lit("60 minutes")
    )


@query("q_session_native", oracle=SESSION_NATIVE_ORACLE)
def q_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`session_window` in BATCH mode — the same expression that powers the
    streaming s_session query, unchanged: one API, both execution models
    (the unification the reference's hand-rolled loop can never offer).
    Same oracle as s_session; lag+cumsum q_sessionize gives a third,
    analytic-SQL formulation of identical semantics."""
    return session_counts(t(spark, sf_dir, "events"), "30 minutes")


FUNNEL_STEP_MS = 24 * 3600 * 1000


@query(
    "q_funnel",
    oracle=f"""
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
       AND {sql_ms("e.ts")} - {sql_ms("v.t_view")} <= {FUNNEL_STEP_MS}
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
       AND {sql_ms("e.ts")} - {sql_ms("c.t_click")} <= {FUNNEL_STEP_MS}
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_full_funnel
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click within 24h → purchase within 24h, per
    user): each stage is a per-user MIN over events inside the previous
    stage's window — three aggregates co-partitioned on user_id, so the
    chain reuses one shuffle; counts summarize the drop-off. The
    clickstream question the reference's data exists to answer."""
    ev = t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.unix_millis("ts") - F.unix_millis("t_view") <= FUNNEL_STEP_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.unix_millis("ts") - F.unix_millis("t_click") <= FUNNEL_STEP_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_full_funnel")))
    )


SESSION_DYNAMIC_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('click', 'view') THEN 1800 ELSE 3600 END
           AS gap_s
  FROM events WHERE ts IS NOT NULL),
flagged AS (
  SELECT user_id, ts, event_id, gap_s,
         CASE WHEN MAX(ts + to_seconds(gap_s)) OVER prior IS NULL
                OR ts > MAX(ts + to_seconds(gap_s)) OVER prior
              THEN 1 ELSE 0 END AS is_start
  FROM g
  WINDOW prior AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
numbered AS (
  SELECT user_id, ts, gap_s,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
  FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts + to_seconds(gap_s)) AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, seq
"""


@query("q_session_dynamic", oracle=SESSION_DYNAMIC_ORACLE)
def q_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows: the merge gap is an EXPRESSION per
    event (engaged interactions — click/view — time out in 30 min, heavy
    events get 60), via session_window's dynamic-gap form. The oracle
    derives the exact same sessions from first principles: an event opens
    a new session iff its ts EXCEEDS the running MAX of all prior
    (ts + gap) ends — strict: an event landing exactly ON a session end
    still merges (probed against session_window; the zero-variance
    corpus plants exact-touch spacings) — a cumulative-max window, not
    a lag test (a long-gap event can bridge PAST its successor, which
    lag-based logic misses). Session end = max event end, matching Spark's merge
    semantics. One shuffle on user_id; per-key window state is a single
    running max."""
    return session_counts(t(spark, sf_dir, "events"), dynamic_gap())


CONVERSION_WINDOW_H = 72


@query(
    "q_funnel_timeboxed",
    oracle=f"""
WITH signups AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
first_purchase AS (
  SELECT s.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
  FROM signups s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND e.ts >= s.signup_ts
   AND e.ts < s.signup_ts + INTERVAL {CONVERSION_WINDOW_H} HOUR
  GROUP BY s.user_id, s.signup_ts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_converted,
       -- raw IEEE quotient of exact counts (no ROUND; round-10 finding)
       CAST(COUNT(p.user_id) AS DOUBLE) / NULLIF(COUNT(*), 0) AS conversion,
       CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN
             {sql_ms("p.purchase_ts")} - {sql_ms("p.signup_ts")} END) AS BIGINT)
         AS total_lag_ms
FROM signups s LEFT JOIN first_purchase p ON p.user_id = s.user_id
""",
)
def q_funnel_timeboxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed conversion: of users who signed up, how many purchased
    WITHIN 72 hours of their first signup — the deadline-bound form of
    q_funnel's stage counts (growth teams quote conversion@72h, not
    ever-converted). The deadline predicate rides the purchase join, so
    the join output is already the converting population; signups and
    first purchases are per-user aggregates before any join touches them.
    Lag sums are integer milliseconds — no float drift in the aggregate."""
    ev = t(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    window_end = F.col("signup_ts") + F.expr(
        f"INTERVAL {CONVERSION_WINDOW_H} HOUR"
    )
    first_purchase = (
        signups.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < window_end),
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
        .select(
            F.col("user_id").alias("c_user"),
            (F.unix_millis("purchase_ts") - F.unix_millis("signup_ts")).alias(
                "lag_ms"
            ),
        )
    )
    return signups.join(
        first_purchase, signups.user_id == F.col("c_user"), "left"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signups"),
        F.count("c_user").cast("bigint").alias("n_converted"),
        # try_divide: zero signups (empty input) is NULL conversion, not
        # an ANSI divide-by-zero crash (edge_empty corpus)
        F.try_divide(F.count("c_user").cast("double"), F.count(F.lit(1))).alias(
            "conversion"
        ),
        F.sum("lag_ms").cast("bigint").alias("total_lag_ms"),
    )
