"""Flagship query — the reference's whole dataflow as one batch plan.

Scan events → JSON-decode props (consumer.py:123) → derive the y/m/d/h
partition key (consumer.py:221-232) → dedup on event_id (the sequence-number
gate, consumer.py:292-303) → hourly rollup by event_type → order + limit.
One query exercising scan→project→filter→dedup→agg→sort→limit end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import dsum, sql_dsum
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t


@query(
    "q_flagship",
    oracle=f"""
WITH deduped AS (
  SELECT * FROM (
    SELECT user_id, event_type, ts, value,
           -- placement-independent ASC NULLS FIRST: the boolean prefix makes
           -- every NULL-vs-non-NULL decision an ordinary comparison and the
           -- COALESCE keeps the comparator NULL-free (DuckDB 1.0's parallel
           -- window sort misplaces NULL keys even with an explicit NULLS
           -- clause — r9 verdict)
           row_number() OVER (PARTITION BY event_id
                              ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                                       (user_id IS NOT NULL) ASC, COALESCE(user_id, 0) ASC,
                                       (event_type IS NOT NULL) ASC, COALESCE(event_type, '') ASC,
                                       (value IS NOT NULL) ASC, COALESCE(value, 0.0) ASC) AS rn
    FROM events)
  WHERE rn = 1
)
SELECT 'y=' || CAST(year(ts) AS VARCHAR) || '/m=' || CAST(month(ts) AS VARCHAR)
       || '/d=' || CAST(day(ts) AS VARCHAR) || '/h=' || CAST(hour(ts) AS VARCHAR)
       AS hour_key,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM deduped
GROUP BY hour_key, event_type
ORDER BY n_events DESC, (hour_key IS NOT NULL) ASC, COALESCE(hour_key, '') ASC,
         (event_type IS NOT NULL) ASC, COALESCE(event_type, '') ASC
LIMIT 500
""",
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # first-by-ts dedup as a hash aggregate (min over an orderable struct):
    # partial+final agg with map-side combine instead of a sort-window —
    # same deterministic result, no per-key sort, skew-tolerant at scale
    deduped = (
        ev.select("event_id", F.struct("ts", "user_id", "event_type", "value").alias("r"))
        .groupBy("event_id")
        .agg(F.min("r").alias("r"))
        .select("event_id", "r.*")
    )
    # NULL-gated: format_string renders a NULL ts as the literal text
    # 'y=null/...' where the oracle's || concatenation nulls the whole
    # key (CLAUDE.md rule; at sf0.001 the divergence hides past the
    # LIMIT, on a small/new-tenant corpus it lands inside it)
    hour_key = F.when(
        F.col("ts").isNotNull(),
        F.format_string(
            "y=%d/m=%d/d=%d/h=%d",
            F.year("ts"), F.month("ts"), F.dayofmonth("ts"), F.hour("ts"),
        ),
    )
    return (
        deduped.groupBy(hour_key.alias("hour_key"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "sum_value", 18, 6),
        )
        .orderBy(F.col("n_events").desc(), "hour_key", "event_type")
        .limit(500)
    )
