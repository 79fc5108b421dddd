"""As-of join — "latest event at or before each order's timestamp, per key".

Spark SQL has no native ASOF JOIN; the engine expresses it as a range join
plus a ranked-window filter — pure built-ins, fully distributed:

    orders LEFT JOIN events ON key match AND e.ts <= o.ts
    → row_number() PARTITION BY order ORDER BY e.ts DESC (tie-broken)
    → keep rn = 1

Scale path for 100 TB: the naive range join can explode (every order ×
every earlier event of that user). The mitigation, same idea as
bucketed interval joins: pre-bucket both sides by (key, time_bucket) and
union the "same bucket" join with a per-bucket "latest before bucket"
rollup, keeping the join fan-out bounded by bucket width. The windowed
filter afterwards is identical. The DuckDB oracle uses the same ranked
formulation (DuckDB's native ASOF JOIN leaves equal-timestamp ties
unspecified, so the ranked form is the portable semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import sql_ms
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t


# Shared by q_join_asof and q_join_asof_union: one row per ORDER IDENTITY
# (the window's PARTITION BY o_orderkey collapses same-key rows — the
# dupdim class plants a duplicate o_orderkey, so the ORDER BY must list
# EVERY emitted column, argmax-completeness rule: without the o_custkey /
# o_orderdate terms a duplicate-key partition whose rows tie on the event
# columns is engine-arbitrary). e.ts is non-NULL for every matched row
# (the join predicate excludes NULL ts; a no-match partition is a single
# NULL-padded row), but event_id / o_custkey / o_orderdate can be NULL —
# encode DESC NULLS LAST placement-independently (DuckDB 1.0's parallel
# window sort misplaces NULL keys even with an explicit NULLS clause; r9
# verdict).
_ASOF_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderdate, last_event_id, last_event_ts
FROM (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
         e.event_id AS last_event_id, e.ts AS last_event_ts,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY e.ts DESC NULLS LAST,
                                     (e.event_id IS NOT NULL) DESC, COALESCE(e.event_id, 0) DESC,
                                     (o.o_custkey IS NOT NULL) DESC, COALESCE(o.o_custkey, 0) DESC,
                                     (o.o_orderdate IS NOT NULL) DESC, COALESCE(o.o_orderdate, TIMESTAMP '1970-01-01') DESC) AS rn
  FROM orders o
  LEFT JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
) WHERE rn = 1
"""


@query("q_join_asof", oracle=_ASOF_ORACLE)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each order: the latest event of that user at or before the order
    date (LEFT semantics — orders with no prior event keep NULLs)."""
    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    joined = o.join(
        e, (e.user_id == o.o_custkey) & (e.ts <= o.o_orderdate), "left"
    )
    # complete tie-break (o_custkey/o_orderdate vary inside a duplicate-key
    # partition — edge_dupdim); Spark desc() is NULLS LAST, matching the
    # oracle's encoded terms
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts").desc(),
        F.col("event_id").desc(),
        F.col("o_custkey").desc(),
        F.col("o_orderdate").desc(),
    )
    return (
        joined.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_event_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query("q_join_asof_union", oracle=_ASOF_ORACLE)
def q_join_asof_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of the as-of join: union both sides into one
    (key, time)-sorted stream and carry the last event forward with
    `last_value(..., ignoreNulls)` — one shuffle on the user key plus an
    orders-grain partial/final argmax (map-side combinable), zero join
    fan-out, state O(1) per key. This is the sort-merge as-of algorithm;
    the range-join formulation (q_join_asof) costs O(orders × prior
    events per user) in intermediate rows, this costs O(orders + events).
    Same oracle as q_join_asof — the two physical strategies must agree
    row-for-row, INCLUDING on dirt the merge shape doesn't naturally
    share with the join shape (edge_dupdim findings): a NULL-user event
    can never equal any o_custkey in the join form but would share the
    NULL merge partition with NULL-custkey orders (excluded explicitly),
    and the oracle's PARTITION BY o_orderkey emits one row per ORDER
    IDENTITY where the merged stream carries one row per orders ROW —
    collapsed by a deterministic struct argmax mirroring the oracle's
    complete ORDER BY (struct max places NULL fields smallest, exactly
    the encoded DESC NULLS LAST terms)."""
    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    # an as-of match needs a time: a NULL-ts event would sort FIRST in
    # the merged stream and get carried as 'last event before' every
    # order, where the range-join form's `e.ts <= o.o_orderdate`
    # naturally excludes it — same for a NULL-user event vs the NULL
    # merge partition (state both exclusions; edge corpora)
    events_side = e.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("k"),
        F.col("ts"),
        F.lit(0).alias("is_order"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orders_side = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    # at equal ts the event sorts BEFORE the order (is_order asc) so
    # e.ts <= o.ts inclusivity holds; event_id asc makes the carried value
    # the max (ts, event_id) — identical to the rn=1 pick in q_join_asof
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "is_order", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the (ts, event_id) pair ATOMICALLY: two separate last() calls
    # would skip a NULL event_id (ignorenulls) while carrying its ts —
    # emitting a mixed row no single event produced when the latest prior
    # event is identity-less (edge_dupdim review finding)
    carried = F.last(
        F.when(F.col("is_order") == 0, F.struct("ts", "event_id")),
        ignorenulls=True,
    ).over(w)
    merged = events_side.unionByName(orders_side).select(
        "k",
        "ts",
        "is_order",
        "o_orderkey",
        carried["event_id"].alias("last_event_id"),
        carried["ts"].alias("last_event_ts"),
    )
    per_row = merged.filter(F.col("is_order") == 1).select(
        "o_orderkey",
        F.col("k").alias("o_custkey"),
        F.col("ts").alias("o_orderdate"),
        "last_event_id",
        "last_event_ts",
    )
    # order-IDENTITY grain: the oracle's PARTITION BY o_orderkey emits one
    # row per key (duplicate/NULL keys collapse) — mirror it with a
    # partial/final struct argmax, field order = the oracle's ORDER BY
    return (
        per_row.groupBy("o_orderkey")
        .agg(
            F.max(
                F.struct(
                    "last_event_ts", "last_event_id", "o_custkey", "o_orderdate"
                )
            ).alias("r")
        )
        .select(
            "o_orderkey",
            F.col("r.o_custkey").alias("o_custkey"),
            F.col("r.o_orderdate").alias("o_orderdate"),
            F.col("r.last_event_id").alias("last_event_id"),
            F.col("r.last_event_ts").alias("last_event_ts"),
        )
    )


NEAREST_BAND_MS = 3600 * 1000  # 1-hour nearest-neighbor horizon


@query(
    "q_join_nearest",
    oracle=f"""
WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'),
scored AS (
  SELECT p.p_id, p.user_id, c.c_id,
         abs({sql_ms("p.p_ts")} - {sql_ms("c.c_ts")}) AS dt_ms,
         row_number() OVER (
           PARTITION BY p.p_id
           ORDER BY abs({sql_ms("p.p_ts")} - {sql_ms("c.c_ts")}), c.c_ts, c.c_id) AS rn
  FROM p JOIN c ON p.user_id = c.user_id
  WHERE abs({sql_ms("p.p_ts")} - {sql_ms("c.c_ts")}) <= {NEAREST_BAND_MS})
SELECT p_id, user_id, c_id, dt_ms FROM scored WHERE rn = 1
""",
)
def q_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join with a bounded horizon: each purchase pairs with
    the same user's temporally CLOSEST click within ±1 hour (ties → the
    earlier click) — the bidirectional sibling of the as-of join
    (attribution, sensor alignment).

    Scale shape: candidates come from a time-bucketed equi-join — each
    purchase probes its own hour bucket plus the two adjacent ones (a
    click within the horizon is always in one of the three), so the
    shuffle keys on (user, bucket) and no per-user all-pairs scan exists;
    the argmin is a per-purchase WindowGroupLimit."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_millis("ts").alias("p_ms"),
        F.floor(F.unix_millis("ts") / NEAREST_BAND_MS).alias("p_bucket"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("user_id_c"),
        F.col("ts").alias("c_ts"),
        F.unix_millis("ts").alias("c_ms"),
        F.floor(F.unix_millis("ts") / NEAREST_BAND_MS).alias("c_bucket"),
    )
    probes = p.select(
        "p_id", "user_id", "p_ms",
        F.explode(
            F.array(F.col("p_bucket") - 1, F.col("p_bucket"), F.col("p_bucket") + 1)
        ).alias("probe_bucket"),
    )
    dt = F.abs(F.col("p_ms") - F.col("c_ms"))
    w = Window.partitionBy("p_id").orderBy("dt_ms", "c_ts", "c_id")
    return (
        probes.join(
            c,
            (F.col("user_id") == F.col("user_id_c"))
            & (F.col("probe_bucket") == F.col("c_bucket")),
        )
        .filter(dt <= NEAREST_BAND_MS)
        .select("p_id", "user_id", "c_id", "c_ts", dt.alias("dt_ms"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "user_id", "c_id", "dt_ms")
    )


@query(
    "q_join_asof_forward",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate, next_event_id, next_event_ts
FROM (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
         e.event_id AS next_event_id, e.ts AS next_event_ts,
         -- same placement-independent event_id encoding as q_join_asof
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY e.ts ASC,
                                     (e.event_id IS NOT NULL) ASC, COALESCE(e.event_id, 0) ASC) AS rn
  FROM orders o
  LEFT JOIN events e ON e.user_id = o.o_custkey AND e.ts > o.o_orderdate
) WHERE rn = 1
""",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each order, the EARLIEST event of that user
    strictly after the order date (the 'next touch after purchase'
    direction — backward as-of's mirror; together with q_join_nearest the
    three temporal-join directions are covered). Same ranked-window
    formulation and the same bucketed mitigation path at scale."""
    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    joined = o.join(e, (e.user_id == o.o_custkey) & (e.ts > o.o_orderdate), "left")
    w = Window.partitionBy("o_orderkey").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        joined.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.col("event_id").alias("next_event_id"),
            F.col("ts").alias("next_event_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_DAY_MS = 86400000


@query(
    "q_join_interval",
    oracle=f"""
WITH acts AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         MIN(ts) AS a_start, MAX(ts) AS a_end
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2),
spans AS (
  SELECT user_id, strftime(time_bucket(INTERVAL '1 week', ts), '%Y-%m-%d')
           AS week_start,
         MIN(ts) AS b_start, MAX(ts) AS b_end
  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
  GROUP BY 1, 2)
SELECT a.user_id, a.day, s.week_start,
       CAST({sql_ms("LEAST(a.a_end, s.b_end)")}
          - {sql_ms("GREATEST(a.a_start, s.b_start)")}
         AS BIGINT) AS overlap_ms
FROM acts a
JOIN spans s
  ON s.user_id = a.user_id
 AND a.a_start <= s.b_end
 AND s.b_start <= a.a_end
""",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join — the fourth temporal-join direction (asof
    backward / asof forward / nearest exist above; this pairs two
    INTERVAL relations): each user's DAILY activity interval
    [first event, last event] against the same user's WEEKLY purchase
    span [first purchase, last purchase of the week], emitting the
    overlap duration — "which active days fell inside the user's buying
    window", the engagement-overlap relation behind attribution and
    churn features.

    Scale shape: the naive form is an inequality-only join (a per-user
    cartesian — BroadcastNestedLoopJoin at best). The engine decomposes
    it into an EQUI-join on (user, day-bucket): each side explodes to
    the day buckets its interval covers (a daily interval covers exactly
    one; a weekly span covers up to 7), two overlapping intervals always
    share the bucket of any common instant, and a distinct() collapses
    pairs that met in several buckets. The shuffle keys on (user,
    bucket) — plan-pinned: no CartesianProduct, no
    BroadcastNestedLoopJoin. Timeless rows are quarantined (a row with
    no event time belongs to no interval — stated on both engines);
    intervals are CLOSED on both ends (min/max are observed instants),
    so touching endpoints overlap with overlap_ms 0.

    Reference analog: none (the reference has no joins at all) — SURVEY
    §2's temporal-join family completion."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    acts = (
        ev.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
        # a day-grouped interval covers exactly its own day bucket
        .withColumn("bucket", F.floor(F.unix_millis("a_start") / _DAY_MS))
    )
    spans = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
                "week_start"
            ),
        )
        .agg(F.min("ts").alias("b_start"), F.max("ts").alias("b_end"))
    )
    sb = spans.select(
        F.col("user_id").alias("s_user"),
        "week_start",
        "b_start",
        "b_end",
        F.explode(
            F.sequence(
                F.floor(F.unix_millis("b_start") / _DAY_MS),
                F.floor(F.unix_millis("b_end") / _DAY_MS),
            )
        ).alias("bucket"),
    )
    return (
        acts.join(sb, (acts.user_id == sb.s_user) & (acts.bucket == sb.bucket))
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select(
            "user_id",
            "day",
            "week_start",
            (
                F.unix_millis(F.least("a_end", "b_end"))
                - F.unix_millis(F.greatest("a_start", "b_start"))
            )
            .cast("bigint")
            .alias("overlap_ms"),
        )
        .distinct()
    )
