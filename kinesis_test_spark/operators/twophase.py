"""Two-phase (skew-safe) forms of the per-user event-chain operators.

THE SCALE PROBLEM (r10 VERDICT #1): `Window.partitionBy(user_id)` puts a
user's ENTIRE history in one task, and AQE's skew handling splits shuffle
JOIN partitions, not window partitions — a 52%-hot user (EDGES.md class
18) serializes q_sessionize / q_event_transitions / q_window_frame into
one task at ANY cluster size.

THE FIX: decompose each chain into (user_id, time-chunk) partitions —
phase 1 runs the chain inside a chunk (a hot user now spreads over as
many tasks as chunks), then phase 2 stitches chunk boundaries on the
CHUNK-GRAIN relation, which is |users|×|chunks| rows instead of |events|
— the same reduction a partial/final aggregate gets. Three patterns, one
per operator shape:

- q_sessionize_twophase — sessions are gap-merged INTERVALS: per-chunk
  sessions, then the boundary merge is itself a sessionization of the
  per-chunk session intervals (ends are monotone over disjoint ordered
  intervals, so a lag test on the tiny interval relation is exact).
- q_event_transitions_twophase — adjacent PAIRS: within-chunk pairs by
  lag, boundary pairs = (chunk's last event type → next chunk's first),
  one lag over the chunk-grain first/last relation.
- q_window_cumsum_twophase — PREFIX SUM (scan decomposition): per-chunk
  running sum + per-user exclusive prefix of chunk totals joined back;
  decimal addition is associative-exact, so offset + local == global.

Each key registers the SAME oracle as its one-phase sibling — the
decomposition is a physical strategy, not a semantics change — and
tests/test_twophase.py pins exact equality against the sibling on the
planted hot-key corpus. Chunking uses integer `div` on unix_millis
(monotone, so chunks are contiguous runs of each user's time-ordered
events; WHICH boundary an event lands on is correctness-neutral — phase
2 merges across every boundary). Timeless (NULL-ts) rows go to a
sentinel chunk that sorts first, mirroring the NULLS-FIRST order of the
sibling's single window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import cents_sum, sql_exact_sum
from kinesis_test_spark.operators.sessionize import GAP_MS, SESSIONIZE_ORACLE
from kinesis_test_spark.operators.windows import TRANSITIONS_ORACLE
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t

CHUNK_MS = 24 * 3600 * 1000  # 1-day chunks: hot user → ~#days tasks
_NULL_CHUNK = -(1 << 62)  # sentinel chunk for NULL-ts rows; sorts first


def _chunk(ts_col: str = "ts"):
    # integer div is monotone in ts (all we need — phase 2 merges across
    # every boundary), and NULL ts quarantines to the first-sorting chunk
    return F.when(
        F.col(ts_col).isNotNull(),
        F.expr(f"unix_millis({ts_col}) div {CHUNK_MS}"),
    ).otherwise(F.lit(_NULL_CHUNK))


@query("q_sessionize_twophase", oracle=SESSIONIZE_ORACLE)
def q_sessionize_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe sessionization: phase 1 sessionizes within (user_id,
    day-chunk) — lag + cumsum exactly as q_sessionize but on the bounded
    partition; phase 2 merges boundary sessions by re-running the SAME
    gap test over each user's per-chunk session intervals (per-chunk
    sessions are disjoint and time-ordered, so interval ends are monotone
    and a lag(end) test is exact — a long session spanning K chunks is K
    interval rows merged left-to-right). The phase-2 window partitions by
    user_id but its input is the session-interval relation: the hot
    user's serialized work drops from O(its events) to O(its sessions).
    session_seq = cumsum of merge-starts = the sibling's numbering."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w1 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w1)
    is_start = F.when(
        prev_ts.isNull() | ((F.unix_millis("ts") - F.unix_millis(prev_ts)) > GAP_MS), 1
    ).otherwise(0)
    chunk_sessions = (
        ev.select("user_id", "event_id", "ts", _chunk().alias("chunk"))
        .select(
            "user_id",
            "chunk",
            "ts",
            F.sum(is_start)
            .over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cseq"),
        )
        .groupBy("user_id", "chunk", "cseq")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count("*").alias("n"),
        )
    )
    # phase 2: merge adjacent intervals whose gap <= GAP_MS (strict > opens,
    # matching the sibling's is_start). s_start is unique per user: equal-ts
    # events share a chunk and a session, so no tie-break key is needed.
    w2 = Window.partitionBy("user_id").orderBy("s_start")
    prev_end = F.lag("s_end").over(w2)
    is_new = F.when(
        prev_end.isNull()
        | ((F.unix_millis("s_start") - F.unix_millis(prev_end)) > GAP_MS),
        1,
    ).otherwise(0)
    merged = chunk_sessions.select(
        "user_id",
        "s_start",
        "s_end",
        "n",
        F.sum(is_new)
        .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_seq"),
    )
    return merged.groupBy("user_id", "session_seq").agg(
        F.min("s_start").alias("session_start"),
        F.max("s_end").alias("session_end"),
        F.sum("n").alias("n_events"),
    )


@query("q_event_transitions_twophase", oracle=TRANSITIONS_ORACLE)
def q_event_transitions_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe Markov transition counts: within-chunk (prev, next) pairs
    by lag over (user_id, chunk); boundary pairs stitch each chunk's LAST
    event type to the user's next chunk's FIRST via one lag over the
    chunk-grain first/last relation (|users|×|chunks| rows). Transitions
    whose source type is NULL are dropped exactly like the sibling (a
    lag-NULL start-of-sequence and a NULL prev event type are identically
    excluded); NULL-ts rows sort first via the sentinel chunk, matching
    the sibling's NULLS FIRST order."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", _chunk().alias("chunk")
    )
    w1 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "chunk",
        "event_type",
        F.lag("event_type").over(w1).alias("prev_type"),
        F.row_number().over(w1).alias("rn_a"),
        F.row_number()
        .over(
            Window.partitionBy("user_id", "chunk").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn_d"),
    )
    within = seq.filter(F.col("prev_type").isNotNull()).select(
        "prev_type", F.col("event_type").alias("next_type")
    )
    # chunk-grain relation: each (user, chunk)'s first and last event type
    edges = (
        seq.filter((F.col("rn_a") == 1) | (F.col("rn_d") == 1))
        .groupBy("user_id", "chunk")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.struct("event_type"))).alias("first_t"),
            F.max(F.when(F.col("rn_d") == 1, F.struct("event_type"))).alias("last_t"),
        )
        .select(
            "user_id",
            "chunk",
            F.col("first_t.event_type").alias("first_type"),
            F.col("last_t.event_type").alias("last_type"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("chunk")
    boundary = (
        edges.select(
            F.lag("last_type").over(w2).alias("prev_type"),
            F.col("first_type").alias("next_type"),
            F.lag("chunk").over(w2).alias("prev_chunk"),
        )
        .filter(F.col("prev_chunk").isNotNull() & F.col("prev_type").isNotNull())
        .select("prev_type", "next_type")
    )
    return (
        within.unionByName(boundary)
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


# Same oracle shape as q_window_frame's running_value (decimal route — the
# windowed double SUM diverges cross-engine by association order), minus
# the bounded n_last3 frame (a 3-row frame crosses chunk edges by overlap
# replication, a different pattern; the prefix sum is the one the verdict
# named). Placement-independent NULLS FIRST encoding per q_window_lag.
_CUMSUM_ORACLE = f"""
SELECT event_id, user_id, ts,
       {sql_exact_sum("value", 18, 6, over="w")} AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                      (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("q_window_cumsum_twophase", oracle=_CUMSUM_ORACLE)
def q_window_cumsum_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user running sum — the scan (prefix-sum)
    decomposition: phase 1 computes the running sum INSIDE each (user,
    day-chunk) partition plus each chunk's total; phase 2 takes the
    EXCLUSIVE prefix of chunk totals per user (a window over the
    chunk-grain relation) and joins it back as an offset. Decimal
    addition is associative-exact, so offset + local running sum is
    bit-identical to the sibling's single-partition cumsum. The join back
    is an equi-join on (user_id, chunk) — the same hash partitioning
    phase 1 already established. NULL-ts rows ride the sentinel chunk,
    first in both the chunk order and the sibling's NULLS FIRST order."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", _chunk().alias("chunk")
    )
    w1 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    local = ev.select(
        "event_id",
        "user_id",
        "ts",
        "chunk",
        cents_sum(
            "value", 18, 6, over=w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("local_sum"),
    )
    totals = ev.groupBy("user_id", "chunk").agg(
        cents_sum("value", 18, 6).alias("chunk_total")
    )
    w2 = Window.partitionBy("user_id").orderBy("chunk")
    # EXCLUSIVE prefix, left nullable: SUM skips NULL chunk totals (a chunk
    # with no finite value), so offset IS NULL ⟺ no prior chunk contributed
    # — the sibling's SUM is NULL iff no finite value in the whole prefix,
    # i.e. iff local_sum AND offset are both NULL. coalescing the offset to
    # 0 here would erase that (a genuine 0.0 prefix must stay non-NULL).
    offsets = totals.select(
        "user_id",
        "chunk",
        F.sum("chunk_total")
        .over(w2.rowsBetween(Window.unboundedPreceding, -1))
        .alias("offset"),
    )
    zero = F.lit(0).cast("decimal(18,0)")
    # NULL-SAFE join keys: PARTITION BY user_id puts every NULL user in ONE
    # window partition, so the offset join must match them too — a plain
    # equi-join drops NULL-user rows entirely (caught by the nulls corpus).
    o = offsets.select(
        F.col("user_id").alias("o_user"),
        F.col("chunk").alias("o_chunk"),
        "offset",
    )
    return local.join(
        o,
        F.col("user_id").eqNullSafe(F.col("o_user"))
        & F.col("chunk").eqNullSafe(F.col("o_chunk")),
    ).select(
        "event_id",
        "user_id",
        "ts",
        (
            F.when(
                F.col("local_sum").isNotNull() | F.col("offset").isNotNull(),
                F.coalesce(F.col("local_sum"), zero) + F.coalesce(F.col("offset"), zero),
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("running_value"),
    )
