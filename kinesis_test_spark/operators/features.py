"""Training-data featurization operators — repetition-based quality
signals over documents and point-in-time feature snapshots over events.

These are the shapes a large-scale pretraining pipeline runs between raw
ingest and the training shard writer: Gopher-style repetition filters to
drop low-quality documents, and feature-store point-in-time aggregation
(no leakage past a cutoff) for downstream model features. (The reference's
analogue is per-record transform-then-sink, /root/reference/consumer.py:
284-307; these extend it with corpus-level statistics.)

Scale notes: both operators are shuffle-on-a-high-cardinality-key
(doc_id / user_id) with map-side partial aggregation — no skew hotspot,
no driver-side state, no UDFs. The repetition scorer's explode produces
|words| rows but they combine within the map stage before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import (
    dsum, exact_sum, finite, sql_dsum, sql_exact_sum, sql_finite
)
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t
from kinesis_test_spark.sources.tables import events_until


@query(
    "q_text_repetition",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
), stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(MAX(c) AS BIGINT) AS max_c,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rep_c
  FROM counts GROUP BY doc_id)
SELECT doc_id, n_words,
       ROUND(max_c / n_words, 6) AS top_word_frac,
       ROUND(rep_c / n_words, 6) AS dup_word_frac,
       CASE WHEN max_c / n_words > 0.2 OR rep_c / n_words > 0.6
            THEN TRUE ELSE FALSE END AS repetitive
FROM stats
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of the
    text occupied by its single most frequent word, the fraction occupied
    by any repeated word, and the resulting drop flag. Two partial+final
    aggregates keyed on (doc_id, word) then doc_id — word counts combine
    map-side before either exchange, so the shuffled volume is the
    vocabulary per document, not the token stream. Empty docs: split('')
    yields one empty-string token in both engines, so ratios stay defined
    and identical."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    stats = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("max_c"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("rep_c"),
    )
    top_frac = F.try_divide(F.col("max_c"), F.col("n_words"))
    dup_frac = F.try_divide(F.col("rep_c"), F.col("n_words"))
    return stats.select(
        "doc_id",
        "n_words",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.6)).alias("repetitive"),
    )


FEATURE_CUTOFF = "2024-01-20 00:00:00"


@query(
    "q_feature_snapshot",
    oracle=f"""
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
       CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors,
       {sql_exact_sum(f"CASE WHEN event_type = 'purchase' THEN {sql_finite('value')} ELSE 0 END", 18, 6, guard=False)} AS purchase_value,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
FROM events
WHERE ts <= TIMESTAMP '{FEATURE_CUTOFF}'
GROUP BY user_id
""",
)
def q_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature snapshot (feature-store shape): per-user
    activity counts and purchase value strictly as of a cutoff timestamp —
    the no-leakage contract for training-set features. One pass over the
    cutoff-pruned events scan into a partial+final aggregate on user_id.
    The cutoff is applied via sources/tables.events_until, which translates
    it into the RAW scanned ts dtype (nanos-long or µs-NTZ) BEFORE
    normalization, so the predicate reaches the parquet reader
    (PushedFilters, pinned in tests/test_plans.py) and future row groups
    are min/max-skipped — a normalized-domain filter would run only after
    the scan. last_seen is stringified (cross-engine DATE/TS rule)."""
    ev = events_until(spark, sf_dir, FEATURE_CUTOFF)
    is_type = lambda et: F.when(F.col("event_type") == et, F.lit(1))  # noqa: E731
    return ev.groupBy("user_id").agg(
        F.count(is_type("click")).alias("n_clicks"),
        F.count(is_type("purchase")).alias("n_purchases"),
        F.count(is_type("error")).alias("n_errors"),
        exact_sum(
            F.when(F.col("event_type") == "purchase", finite(F.col("value"))).otherwise(F.lit(0.0)),
            18,
            6,
            guard=False,
        ).alias("purchase_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_seen"),
    )


@query(
    "q_dq_checks",
    oracle="""
SELECT 'events_pk_dup' AS check_name,
       CAST((SELECT COUNT(*) FROM (
          SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1)) AS BIGINT)
       AS violations
UNION ALL
SELECT 'events_null_user',
       CAST((SELECT COUNT(*) FROM events WHERE user_id IS NULL) AS BIGINT)
UNION ALL
SELECT 'events_value_negative',
       CAST((SELECT COUNT(*) FROM events WHERE value < 0.0) AS BIGINT)
UNION ALL
SELECT 'orders_fk_customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range',
       -- isnan stated EXPLICITLY: NaN > 1.0 is TRUE in both engines'
       -- executors, but DuckDB's parquet zone-map pushdown drops the
       -- NaN row from a bare range predicate (edge_nonfinite probe
       -- finding) — and a NaN discount IS a range violation
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0.0 OR l_discount > 1.0
                OR isnan(l_discount)) AS BIGINT)
UNION ALL
SELECT 'lineitem_ship_before_order',
       CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey
             WHERE l.l_shipdate < o.o_orderdate) AS BIGINT)
ORDER BY check_name
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the dbt-test / Great-Expectations
    shape): six constraint checks — primary-key uniqueness, null contract,
    value range ×2, referential integrity, and a cross-table temporal
    invariant — each reduced to a violation count and unioned into one
    tidy report. Every check is a scan + aggregate or a semi/anti-join:
    no check materializes violating ROWS to the driver, so the suite costs
    one pass per table (+ one join) at any scale and the output stays six
    rows. At 100 TB the checks share nothing, so they parallelize as
    independent stages; a scheduler can also run them as separate jobs."""
    ev = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")

    pk_dup = (
        ev.groupBy("event_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").alias("violations"))
    )
    null_user = ev.filter(F.col("user_id").isNull()).agg(
        F.count("*").alias("violations")
    )
    neg_value = ev.filter(F.col("value") < 0.0).agg(F.count("*").alias("violations"))
    fk_orphan = o.join(
        c, o.o_custkey == c.c_custkey, "left_anti"
    ).agg(F.count("*").alias("violations"))
    disc_range = li.filter(
        (F.col("l_discount") < 0.0)
        | (F.col("l_discount") > 1.0)
        | F.isnan("l_discount")  # explicit — see the oracle's comment
    ).agg(F.count("*").alias("violations"))
    ship_before = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count("*").alias("violations"))
    )

    def tag(df: DataFrame, name: str) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"), "violations")

    report = (
        tag(pk_dup, "events_pk_dup")
        .unionByName(tag(null_user, "events_null_user"))
        .unionByName(tag(neg_value, "events_value_negative"))
        .unionByName(tag(fk_orphan, "orders_fk_customer"))
        .unionByName(tag(disc_range, "lineitem_discount_range"))
        .unionByName(tag(ship_before, "lineitem_ship_before_order"))
    )
    return report.orderBy("check_name")


CDC_OLD_START, CDC_OLD_END = "2024-01-08", "2024-01-15"
CDC_NEW_START, CDC_NEW_END = "2024-01-22", "2024-01-29"


@query(
    "q_cdc_changes",
    oracle=f"""
WITH a AS (
  SELECT user_id, event_type,
         {sql_dsum("value", "val")},
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE ts >= TIMESTAMP '{CDC_OLD_START}' AND ts < TIMESTAMP '{CDC_OLD_END}'
  GROUP BY user_id, event_type),
b AS (
  SELECT user_id, event_type,
         {sql_dsum("value", "val")},
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE ts >= TIMESTAMP '{CDC_NEW_START}' AND ts < TIMESTAMP '{CDC_NEW_END}'
  GROUP BY user_id, event_type)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       COALESCE(a.event_type, b.event_type) AS event_type,
       CASE WHEN a.user_id IS NULL THEN 'inserted'
            WHEN b.user_id IS NULL THEN 'deleted'
            WHEN a.val = b.val AND a.n = b.n THEN 'unchanged'
            ELSE 'updated' END AS change_type,
       a.val AS old_value, b.val AS new_value
FROM a FULL OUTER JOIN b
  ON a.user_id = b.user_id AND a.event_type = b.event_type
ORDER BY user_id, event_type
""",
)
def q_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC without a table format): per-(user, event-type)
    state aggregated over two weekly windows, full-outer-joined and
    classified inserted/deleted/updated/unchanged — the period-over-period
    diff every warehouse sync job runs. Each snapshot scan carries a
    pushed ts predicate, so a date-partitioned lake reads each period
    exactly once (no full-history scan); the join shuffles only the
    per-key aggregates, never events. Values go through the decimal route
    so 'unchanged' means exactly-equal, not
    float-accumulation-order-equal."""
    ev = t(spark, sf_dir, "events")

    def snap(start, end, uk, tk, vk, nk):
        lo = F.lit(start).cast("timestamp")
        hi = F.lit(end).cast("timestamp")
        return (
            ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("user_id", "event_type")
            .agg(
                dsum("value", vk),
                F.count(F.lit(1)).cast("bigint").alias(nk),
            )
            .select(
                F.col("user_id").alias(uk), F.col("event_type").alias(tk), vk, nk
            )
        )

    a = snap(CDC_OLD_START, CDC_OLD_END, "ua", "ta", "old_value", "na")
    b = snap(CDC_NEW_START, CDC_NEW_END, "ub", "tb", "new_value", "nb")
    change = (
        F.when(F.col("ua").isNull(), "inserted")
        .when(F.col("ub").isNull(), "deleted")
        .when(
            (F.col("old_value") == F.col("new_value")) & (F.col("na") == F.col("nb")),
            "unchanged",
        )
        .otherwise("updated")
    )
    return (
        a.join(b, (F.col("ua") == F.col("ub")) & (F.col("ta") == F.col("tb")), "full_outer")
        .select(
            F.coalesce(F.col("ua"), F.col("ub")).alias("user_id"),
            F.coalesce(F.col("ta"), F.col("tb")).alias("event_type"),
            change.alias("change_type"),
            "old_value",
            "new_value",
        )
        .orderBy("user_id", "event_type")
    )


COMPACT_TARGET_BYTES = 65536  # target compacted file size (planning unit)


@query(
    "q_compaction_planner",
    oracle=f"""
WITH files AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS dt,
         CAST(SUM(CAST(len(props) + 64 AS BIGINT)) AS BIGINT) AS est_bytes
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d'))
SELECT event_type, dt, est_bytes,
       -- (dt IS NULL) quarantines dateless bytes from the prefix-sum chain
       -- (the NULL-day bucket is one row per type and bins alone at 0) —
       -- placement-independent of DuckDB's NULL window-sort nondeterminism
       -- (see q_wow_change)
       CAST(FLOOR(COALESCE(SUM(est_bytes) OVER (
              PARTITION BY event_type, (dt IS NULL) ORDER BY dt
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {COMPACT_TARGET_BYTES}) AS BIGINT) AS compaction_bin
FROM files
ORDER BY event_type, dt
""",
)
def q_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the maintenance pass behind
    q_maintenance_compact, as a pure query): estimate per-(partition, day)
    file sizes, then greedily pack consecutive days into target-size bins
    via a running prefix sum — bin = floor(bytes-before / target). All
    integer arithmetic (no float drift in bin boundaries); one shuffle to
    the (event_type, day) grain and a per-partition ordered window whose
    state is a single counter. At 100 TB the planner output is
    dimension-sized (partitions × days) even though it describes the whole
    lake."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    files = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    ).agg(
        F.sum((F.length("props") + 64).cast("bigint")).cast("bigint").alias("est_bytes")
    )
    w = (
        Window.partitionBy("event_type", F.col("dt").isNull())
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return files.select(
        "event_type",
        "dt",
        "est_bytes",
        F.floor(
            F.coalesce(F.sum("est_bytes").over(w), F.lit(0)) / COMPACT_TARGET_BYTES
        )
        .cast("bigint")
        .alias("compaction_bin"),
    ).orderBy("event_type", "dt")
