"""Streaming operator queries (SURVEY.md §2B streaming slice).

Each callable runs a real Structured Streaming query to completion
(Trigger.AvailableNow — deterministic drain) and returns the result as a
DataFrame. Where the drained result is batch-deterministic the query
carries a full DuckDB oracle — the streaming path must produce exactly the
batch answer; genuinely arrival-order-dependent semantics (late-data drop,
checkpoint restart) are exercised with controlled multi-phase runs and
asserted in tests/test_streaming.py.

Reference parity: ingest = consumer.py:92-130; dedup = consumer.py:292-303
(upgraded from batch-granularity to record-level, exactly-once); the
partitioned sink = consumer.py:221-249; checkpoint resume =
consumer.py:169-218 + README.md:2-6 (lease table → offset/commit logs).
"""

from __future__ import annotations

import datetime as _dt
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_test_spark.functions.exact import (
    cents_sum, dsum, sql_cents_term, sql_dsum, sql_finite, sql_ms
)
from kinesis_test_spark.operators.sessionize import (
    SESSION_DYNAMIC_ORACLE,
    SESSION_NATIVE_ORACLE,
    dynamic_gap,
    session_counts,
)
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources.tables import t
from kinesis_test_spark.streaming.pipeline import (
    POST_EPOCH_SQL,
    SQL_HOURLY_COUNTS,
    drain,
    mod_slice,
    partitioned_json_sink,
    post_epoch,
    read_events_stream,
    local_rows,
    read_staged_stream,
    run_to_memory,
    scratch_dir,
    stage_events,
    stage_far_future_sentinels,
    start_stream,
    state_partitions_for,
)


def _mem_name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _evt_state_parts(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count for a stateful stream consuming the
    events table — derived from the INPUT VOLUME via Hadoop's FileSystem
    listing (pipeline.state_partitions_for), never the session core
    count. Round 15 extends the r14 s_ingest sizing to EVERY stateful
    streaming operator: at fixture scale each stream runs one live
    RocksDB instance instead of 32 idle ones per micro-batch (the
    dominant per-drain cost — measured 3-5 s/batch of pure commit
    machinery on 5 state rows), while a 100 TB stream derives the
    thousands of partitions its state actually needs. The path is a plain
    string join, not pathlib, which would collapse an hdfs://host double
    slash."""
    return state_partitions_for(spark, f"{sf_dir}/events.parquet")


def _to_memory(df: DataFrame, sf_dir: str, d, output_mode: str) -> DataFrame:
    """Drain a stateful stream over the events table into a fresh memory
    table named after the scratch area ``d`` (checkpoint ``d/cp``), its
    state sized by _evt_state_parts."""
    return run_to_memory(
        df,
        _mem_name(d.parent.name),
        d / "cp",
        output_mode,
        _evt_state_parts(df.sparkSession, sf_dir),
    )


_WIRE_TS = "yyyy-MM-dd HH:mm:ss.SSSSSS"
# The reference's wire record (consumer.py:123): events as JSON lines, ts
# as a string. The explicit schema spares the stream an inference scan.
_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
# partitioned_json_sink's output read back: the wire record plus its
# y/m/d/h partition columns (inference would scan every file twice)
_SINK_SCHEMA = T.StructType(
    _WIRE_SCHEMA.fields + [T.StructField(c, T.IntegerType()) for c in "ymdh"]
)


def _json_wire_stream(spark: SparkSession, sf_dir: str, src, copies: int = 1) -> DataFrame:
    """Stage the events table as JSON lines under ``src`` (``copies``
    whole-table arrivals; a second one is a replay) and stream it back
    with the wire schema, timestamps re-parsed."""
    wire = t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", _WIRE_TS).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    for i in range(copies):
        wire.coalesce(1).write.mode("append" if i else "overwrite").json(str(src))
    return (
        spark.readStream.schema(_WIRE_SCHEMA)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts", _WIRE_TS))
    )


def _read_sink(spark: SparkSession, out) -> DataFrame:
    return spark.read.schema(_SINK_SCHEMA).option("basePath", str(out)).json(str(out))


def _id_halves(spark: SparkSession, sf_dir: str, stage, drain_once) -> None:
    """Stage the events in two event_id halves, calling ``drain_once``
    after each: the first run stops (the 'kill'), the second is a fresh
    query on the same checkpoint (the 'resume'). The first half carries
    the NULL-id rows: a bare < mid / >= mid pair fails BOTH for NULL and
    silently loses the row (the mod_slice class-3 bug on a range split —
    tests/test_edge_dupkeys.py). An empty source (edge_empty) stages
    nothing in either half; any split point works."""
    lo, hi = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.min("event_id"), F.max("event_id")
    ).first()
    mid = (lo + hi) // 2 if lo is not None else 0
    stage_events(spark, sf_dir, stage, "first", where=f"event_id < {mid} OR event_id IS NULL")
    drain_once()
    stage_events(spark, sf_dir, stage, "second", where=f"event_id >= {mid}")
    drain_once()


def _sentinel_drain(spark: SparkSession, sf_dir: str, stream: DataFrame, d, keys):
    """Drain ``stream`` (defined over the staged dir ``d/src``) into the
    parquet sink ``d/out`` in three phases on one checkpoint: the events,
    then two far-future sentinel arrivals (``keys``, 1 h and 2 h past the
    real max ts) whose batches advance the watermark past every real join
    window or timeout. AvailableNow needs them: a watermark only advances
    on later ARRIVALS. An empty source stages no sentinels. Returns the
    raw-domain max ts (None when empty)."""
    max_ts = spark.read.parquet(f"{sf_dir}/events.parquet").agg(F.max("ts")).first()[0]
    n_state = _evt_state_parts(spark, sf_dir)
    stage_events(spark, sf_dir, d / "src", "events")
    for hours_ahead in (0, 1, 2):
        if hours_ahead and max_ts is not None:
            stage_far_future_sentinels(
                spark, sf_dir, d / "src", f"sentinel_{hours_ahead}", hours_ahead,
                keys=keys, max_ts=max_ts,
            )
        drain(stream.writeStream.format("parquet").option("path", str(d / "out")), d / "cp", n_state)
    return max_ts


@query(
    "s_ingest",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def s_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded ingest drained with AvailableNow; complete-mode counts must
    equal the batch answer exactly."""
    counts = read_events_stream(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("n"))
    return _to_memory(counts, sf_dir, scratch_dir("s_ingest"), "complete")


@query(
    "s_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type, COUNT(*) AS n
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
""",
)
def s_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the reference's hourly y/m/d/h layout,
    consumer.py:226-232, as a first-class windowed aggregation)."""
    win = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return _to_memory(win, sf_dir, scratch_dir("s_tumbling"), "complete")


@query(
    "s_sliding",
    oracle="""
SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end, COUNT(*) AS n
FROM (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
  FROM events WHERE ts IS NOT NULL)
GROUP BY ws
""",
)
def s_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m hop): every event lands in exactly
    two windows; the oracle materializes both membership rows."""
    win = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
        )
    )
    return _to_memory(win, sf_dir, scratch_dir("s_sliding"), "complete")


@query("s_session", oracle=SESSION_NATIVE_ORACLE)
def s_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows, 30m gap (the reference data's
    tealium_session_id concept, record.json:3, derived from event time).
    Spark merges events with gap < 30m; window end = last event + gap —
    the oracle reproduces exactly that."""
    win = session_counts(read_events_stream(spark, sf_dir), "30 minutes")
    return _to_memory(win, sf_dir, scratch_dir("s_session"), "complete")


@query(
    "s_dedup",
    # DISTINCT: the engine dedups by event_id, so a redelivered
    # byte-identical FIXTURE row must collapse on the oracle side too
    # (tests/test_edge_dupkeys.py)
    oracle="SELECT DISTINCT event_id, user_id, event_type, ts, value FROM events"
    " WHERE event_id IS NOT NULL",
)
def s_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level streaming dedup (upgrades the reference's
    batch-granularity gate, consumer.py:292-303): the source replays the
    whole table twice (two staged files); dropDuplicates on the record key
    must reconstruct exactly one copy.

    Identity-less records (NULL event_id) are QUARANTINED explicitly on
    both engines: with redelivery in the source their presence count is
    unreconstructible (the replay doubles them and no key says which are
    the same record), and Spark's dropDuplicates would otherwise collapse
    every unknown identity into one arbitrary row. Production routes
    them to a dead-letter sink; the reference crashes (consumer.py:123)."""
    d = scratch_dir("s_dedup")
    stage = d / "src"
    stage_events(spark, sf_dir, stage, "a")
    stage_events(spark, sf_dir, stage, "b")
    deduped = (
        read_staged_stream(spark, sf_dir, stage)
        .filter(F.col("event_id").isNotNull())  # identity quarantine (docstring)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    return _to_memory(deduped, sf_dir, d, "append")


@query("s_sink_partitioned", oracle=SQL_HOURLY_COUNTS)
def s_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's S3 sink end-to-end (consumer.py:221-249): stream →
    Spark's file sink → JSON files under y=/m=/d=/h= partition dirs, then
    read the files back and count per partition — verifying layout and
    content arrived."""
    d = scratch_dir("s_sink")
    partitioned_json_sink(read_events_stream(spark, sf_dir), d / "out", d / "cp")
    return _read_sink(spark, d / "out").groupBy("y", "m", "d", "h").agg(F.count("*").alias("n"))


@query(
    "s_stateful_count",
    oracle="SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id",
)
def s_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-key state in update mode (the lease-counter pattern,
    consumer.py:189: monotonically advancing per-key state)."""
    counts = read_events_stream(spark, sf_dir).groupBy("user_id").agg(F.count("*").alias("n"))
    return _to_memory(counts, sf_dir, scratch_dir("s_stateful"), "update")


@query("s_watermark")  # rows-only: arrival-order semantics, asserted in tests
def s_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data drop: phase 1 streams recent events (watermark advances),
    phase 2 delivers older-than-watermark events — they must be dropped.
    Returns the append-mode finalized windows; tests assert no pre-cutoff
    window ever appears (the reference, by contrast, happily writes late
    events into old partitions — consumer.py:237)."""
    # staged files keep the raw schema — split the timeline in the raw ts
    # domain (long nanos OR TIMESTAMP_NTZ micros, fixture-dependent)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:  # empty source (edge_empty) or all-NULL ts: stage nothing
        # an explicit FALSE predicate — a None `where` would mean "no
        # filter" to stage_events and stage the whole table twice
        where_recent = where_late = "false"
    elif isinstance(lo, int):
        mid = (lo + hi) // 2
        where_recent, where_late = f"ts >= {mid}", f"ts < {mid}"
    else:  # naive datetimes from a TIMESTAMP_NTZ scan
        mid = lo + (hi - lo) / 2
        mid_lit = f"'{mid.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        where_recent, where_late = f"ts >= {mid_lit}", f"ts < {mid_lit}"
    d = scratch_dir("s_watermark")
    stage = d / "src"
    stage_events(spark, sf_dir, stage, "recent", where=where_recent)
    name = _mem_name("wm")
    windowed = (
        read_staged_stream(spark, sf_dir, stage)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    q = start_stream(
        windowed.writeStream.format("memory").queryName(name).outputMode("append"),
        d / "cp",
        _evt_state_parts(spark, sf_dir),
    )
    q.processAllAvailable()
    stage_events(spark, sf_dir, stage, "late", where=where_late)
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@query(
    "s_checkpoint",
    oracle="SELECT event_id, user_id, event_type, ts, value FROM events",
)
def s_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill-and-resume exactly-once (the whole point of the reference's
    lease table, consumer.py:169-218): first half of the stream is
    processed, the query stops, the second half arrives, a NEW query on the
    same checkpointLocation resumes — the sink must hold each record
    exactly once, no replays, no gaps."""
    d = scratch_dir("s_checkpoint")
    stage, sink = d / "src", d / "sink"
    cols = ["event_id", "user_id", "event_type", "ts", "value"]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(str(sink))

    def run_once() -> None:
        stream = read_staged_stream(spark, sf_dir, stage).select(*cols)
        drain(stream.writeStream.foreachBatch(write_batch), d / "cp")

    _id_halves(spark, sf_dir, stage, run_once)
    # explicit schema: an all-empty run may leave the sink with no data
    # files to infer from (edge_empty corpus)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
    ).parquet(str(sink))


@query(
    "s_json_ingest",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM events GROUP BY event_type
""",
)
def s_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON wire-format ingest — the reference's actual decode path
    (consumer.py:123: raw bytes → json.loads): events staged as JSON-lines
    files, streamed with an explicit schema, timestamps re-parsed, then
    aggregated; must reproduce the batch answer exactly."""
    d = scratch_dir("s_json_ingest")
    agg = _json_wire_stream(spark, sf_dir, d / "src").groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value", "sum_value", 18, 6),
    )
    return _to_memory(agg, sf_dir, d, "complete")


@query(
    "s_custom_state",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events,
       ROUND(MAX({sql_finite("value")}), 6) AS max_value
FROM events GROUP BY user_id
""",
)
def s_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState — the extension
    point for semantics Spark's built-in stateful ops can't express (the
    reference's lease-counter is the trivial case, consumer.py:189). State
    here: per-user (count, running max); emitted once per batch per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        # running max over FINITE values only (edge_nonfinite): pandas
        # float64 can't tell NULL from NaN, so SQL's "ignore NULL,
        # propagate NaN" MAX is unimplementable here — both sides
        # quarantine non-finite instead. -inf doubles as the "no finite
        # value yet" sentinel: the mask excludes a planted -Inf, so no
        # legal input can collide with it.
        import numpy as np

        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].astype(float)
            fv = v[np.abs(v) < 1e12]  # exact-domain mask (NaN/Inf/huge)
            if len(fv):
                mx = max(mx, float(fv.max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [round(mx, 6) if mx != float("-inf") else None],
            }
        )

    result = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return _to_memory(result, sf_dir, scratch_dir("s_custom_state"), "update")


@query(
    "s_static_join",
    oracle=f"""
SELECT n.n_name, COUNT(*) AS n_events,
       {sql_dsum("e.value", "sum_value", 18, 6)}
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY n.n_name
""",
)
def s_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the production pattern for attaching
    dimension data to a stream (the reference has no join capability at
    all; its events carry denormalized fields instead). The static side is
    broadcast; no stream state is needed."""
    nation = F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(nation, stream.user_id % 25 == nation.n_nationkey)
    agg = joined.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        dsum("value", "sum_value", 18, 6),
    )
    return _to_memory(agg, sf_dir, scratch_dir("s_static_join"), "complete")


@query(
    "s_matview",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def s_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view: foreachBatch merges each micro-batch's
    partial counts into a persistent parquet aggregate (read-merge-write).
    Two staged arrivals; after the second merge the view must equal the
    batch answer — the upsert-sink pattern for serving layers."""
    d = scratch_dir("s_matview")
    stage, view, cp = d / "src", d / "view", d / "cp"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("event_type").agg(F.count("*").alias("n"))
        try:
            current = batch_df.sparkSession.read.parquet(str(view))
        except Exception:
            current = None
        merged = (
            part if current is None
            else current.unionByName(part)
            .groupBy("event_type")
            .agg(F.sum("n").alias("n"))
        )
        merged.coalesce(1).write.mode("overwrite").parquet(str(view) + "_next")
        import shutil as _sh

        _sh.rmtree(str(view), ignore_errors=True)
        _sh.move(str(view) + "_next", str(view))

    def run_once() -> None:
        drain(read_staged_stream(spark, sf_dir, stage).writeStream.foreachBatch(merge_batch), cp)

    _id_halves(spark, sf_dir, stage, run_once)
    return spark.read.parquet(str(view)).select("event_type", F.col("n").cast("bigint").alias("n"))


@query(
    "s_stream_join",
    oracle="""
SELECT a.event_id AS a_event_id, b.event_id AS b_event_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
WHERE epoch_us(a.ts) > 0 AND epoch_us(b.ts) > 0
""",
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: pair each event with the same
    user's events in the following 5 minutes. Watermarks on both sides
    bound the join state (old rows are evicted once they can no longer
    match); the time-range condition tells Spark exactly how long to keep
    each side. Drained with AvailableNow, the result must equal the batch
    band join. The band is stated in exact MICROS (the engine compares
    raw timestamps against an interval) and the event-time domain is
    strictly post-epoch on both engines (pipeline.post_epoch)."""
    left = (
        post_epoch(read_events_stream(spark, sf_dir))
        .select(
            F.col("event_id").alias("a_event_id"),
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "10 minutes")
    )
    right = (
        post_epoch(read_events_stream(spark, sf_dir))
        .select(
            F.col("event_id").alias("b_event_id"),
            F.col("user_id").alias("user_id_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    ).select("a_event_id", "b_event_id", "user_id")
    return _to_memory(joined, sf_dir, scratch_dir("s_stream_join"), "append")


@query("s_stream_join_left")  # rows-only: final-watermark emission isn't batch SQL
def s_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the attribution shape:
    every click paired with the same user's purchases in the following
    5 minutes, and clicks with NO such purchase emitted once with NULL
    purchase columns after the watermark closes their join window.

    AvailableNow caveat (the reason this is rows-only): an outer NULL row
    emits only when a LATER batch advances the watermark past the left
    row's eviction point — after the final data batch there may be no such
    batch, so a single drain would hold the tail of unmatched clicks in
    state forever. The drain is therefore phased: real events first, then
    two far-future sentinel arrivals whose batches close every real join
    window. In production the steady arrival of new data plays the
    sentinel's role. The parquet sink + checkpoint make emission
    exactly-once across the restarts.

    Subtlety (found live): the sentinel must SURVIVE the per-side filters.
    Catalyst pushes a deterministic predicate on a non-event-time column
    BELOW the EventTimeWatermark node, so a row the filter rejects never
    reaches the watermark accumulator — a 'sentinel' event_type would be
    invisible and the watermark would freeze at
    min(max click ts, max purchase ts) - delay, permanently stranding the
    last clicks in state. The sentinels are therefore staged as one real
    'click' and one 'purchase' with negative ids/users (they match
    nothing), and are dropped from the BATCH read-back — not from the
    streaming plan, where the filter would be pushed down again.

    Reference: consumer.py:292-303 batches are joined to their retries only
    when present; unmatched must still land in the sink exactly once."""
    d = scratch_dir("s_stream_join_left")
    stage = d / "src"
    stage.mkdir(parents=True, exist_ok=True)  # stream defined before first arrival

    def side(alias_id: str, etype: str, uid: str, ts: str) -> DataFrame:
        # strictly post-epoch domain (pipeline.post_epoch): the join drops
        # pre-epoch event times against the initial watermark anyway —
        # rows-only checks can't see that, so state it explicitly
        return (
            post_epoch(read_staged_stream(spark, sf_dir, stage))
            .withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(alias_id),
                F.col("user_id").alias(uid),
                F.col("ts").alias(ts),
            )
        )

    clicks = side("click_id", "click", "user_id", "ts_a")
    purchases = side("purchase_id", "purchase", "user_id_b", "ts_b")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select(
        "click_id", "purchase_id", "user_id",
        # carried to the sink so read-back can scrub sentinels OUT-OF-BAND
        # by time (a reserved negative id is in-band — it collides with
        # legal negative-id clicks, the s_state_ttl lesson)
        F.col("ts_a").alias("click_ts"),
    )

    # stream-stream join = FOUR state stores per partition per batch; the
    # count locks into the checkpoint at the first drain (_evt_state_parts)
    max_ts = _sentinel_drain(
        spark, sf_dir, joined, d, keys=[(-1, -1, "click"), (-2, -2, "purchase")]
    )
    # Sentinel scrub is by TIME, not id: sentinels sit ≥1h past the real
    # max ts, so "click_ts <= real max" keeps every legal click — including
    # negative-id ones a `click_id >= 0` scrub would silently drop
    # (edge_negatives class 5). Raw→normalized domain: nanos floor to µs
    # exactly as normalize_ts does; a naive datetime IS the UTC wall clock.
    back = spark.read.schema(
        # explicit schema: an empty run leaves the sink with no data files
        # to infer from (edge_empty corpus)
        "click_id bigint, purchase_id bigint, user_id bigint, click_ts timestamp"
    ).parquet(str(d / "out"))
    if max_ts is not None:
        if isinstance(max_ts, int):  # long-nanos encoding
            cutoff = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=max_ts // 1000
            )
        else:
            cutoff = max_ts.replace(tzinfo=None)
        back = back.filter(F.col("click_ts") <= F.lit(cutoff))
    return back.select("click_id", "purchase_id", "user_id")


@query(
    "s_python_source",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM (
  SELECT (['click','purchase','error','signup','view'])[
    ((strpos('0123456789abcdef', substr(md5('t|' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('t|' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('t|' || CAST(i AS VARCHAR)), 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('t|' || CAST(i AS VARCHAR)), 4, 1)) - 1)) % 5 + 1
  ] AS event_type
  FROM (SELECT unnest(generate_series(0, 999)) AS i))
GROUP BY event_type
""",
)
def s_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING data source: offset-managed micro-batches
    (initialOffset → read(start) → commit), drained with AvailableNow —
    the reference's entire iterator/lease-table protocol (consumer.py:
    92-130,169-218) as ~30 lines against the engine's source API. The
    1000 rows arrive across 4 offset-bounded micro-batches (batch=250) and
    must aggregate to exactly the generator's distribution."""
    from kinesis_test_spark.sources import pysource

    pysource.register_stream(spark)
    d = scratch_dir("s_python_source")
    name = _mem_name("pysrc")
    stream = spark.readStream.format("clickstream_synth_stream").load()
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    # processAllAvailable (not AvailableNow): the simple reader advances one
    # offset-bounded read() per trigger; drain until the offset stops moving.
    # State sized to the source's own bounded domain (5 event-type keys over
    # a fixed 1000-row generator — a constant of the operator, not of the
    # submitting cluster): one live store instead of 32 per micro-batch.
    q = start_stream(
        agg.writeStream.format("memory").queryName(name).outputMode("complete"),
        d / "cp",
        1,
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@query(
    "s_reference_pipeline",
    oracle="""
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       event_type, COUNT(*) AS n
FROM (SELECT DISTINCT * FROM events WHERE event_id IS NOT NULL)
GROUP BY 1, 2, 3, 4, 5
""",
)
def s_reference_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE job as one streaming query (consumer.py:252-320):
    JSON wire ingest (with a replayed batch — its failure mode) → decode →
    record-level dedup → event-time y/m/d/h partitioned JSON sink →
    read-back. The sink contents must equal the batch truth exactly:
    replay suppressed, every event once, reference layout."""
    d = scratch_dir("s_ref_pipeline")
    # the wire carries the WHOLE TABLE TWICE (the replay)
    stream = (
        _json_wire_stream(spark, sf_dir, d / "src", copies=2)
        .filter(F.col("event_id").isNotNull())  # identity quarantine (s_dedup)
        .dropDuplicates(["event_id"])  # record-level (vs consumer.py:292-303)
    )
    # the dedup is stateful — size its stores from the input volume; the
    # sink's keyed repartition takes the same shuffle-partition count as
    # its writer count (both lock into the checkpoint), which tracks the
    # data in both directions (1 at fixture scale, thousands at 100 TB).
    # The sink's _spark_metadata log makes the output exactly-once, and
    # the read-back below lists files from that log.
    partitioned_json_sink(stream, d / "out", d / "cp", _evt_state_parts(spark, sf_dir))
    return _read_sink(spark, d / "out").groupBy("y", "m", "d", "h", "event_type").agg(F.count("*").alias("n"))



@query(
    "s_fanout",
    oracle="""
SELECT 'parquet' AS sink, COUNT(*) AS n FROM events
UNION ALL
SELECT 'json', COUNT(*) FROM events
""",
)
def s_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink fanout from one stream: foreachBatch writes each
    micro-batch to BOTH a parquet and a JSON sink (the pattern for serving
    + archival targets off one ingest); both copies must be complete."""
    d = scratch_dir("s_fanout")
    pq, js, cp = d / "pq", d / "js", d / "cp"

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn("ts", F.col("ts").cast("string"))
        out.persist()
        out.write.mode("append").parquet(str(pq))
        out.write.mode("append").json(str(js))
        out.unpersist()

    drain(read_events_stream(spark, sf_dir).writeStream.foreachBatch(write_both), cp)
    n_pq = spark.read.parquet(str(pq)).count()
    n_js = spark.read.json(str(js)).count()
    rows = [("parquet", n_pq), ("json", n_js)]
    return local_rows(spark, rows, "sink string, n long")


@query(
    "s_dedup_watermarked",
    oracle="SELECT DISTINCT event_id, user_id, event_type, value FROM events"
    f" WHERE {POST_EPOCH_SQL.format(col='ts')} AND event_id IS NOT NULL",
)
def s_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the PRODUCTION form of streaming
    dedup: state for a key is evicted once the watermark passes it, so
    unbounded streams hold bounded dedup state (plain dropDuplicates, used
    in s_dedup, keeps state forever). Same replayed-source construction;
    same exact result. Event-time domain is strictly post-epoch on BOTH
    engines (pipeline.post_epoch): the operator itself drops ts <= epoch
    against the initial watermark."""
    d = scratch_dir("s_dedup_wm")
    stage = d / "src"
    stage_events(spark, sf_dir, stage, "a")
    stage_events(spark, sf_dir, stage, "b")
    deduped = (
        post_epoch(read_staged_stream(spark, sf_dir, stage))
        .filter(F.col("event_id").isNotNull())  # identity quarantine (s_dedup)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return _to_memory(deduped, sf_dir, d, "append")


def _near_gate_oracle() -> str:
    from kinesis_test_spark.operators.dedup import SQL_MINHASH_SIG, sql_bands

    return f"""
WITH {SQL_MINHASH_SIG},
{sql_bands()},
u AS (SELECT DISTINCT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
winners AS (SELECT b, bkey, MIN(doc_id) AS winner_id FROM bands GROUP BY b, bkey),
verdict AS (SELECT bd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bands,
                   CAST(SUM(CASE WHEN wi.winner_id <> bd.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_lost
            FROM bands bd JOIN winners wi ON wi.b = bd.b AND wi.bkey = bd.bkey
            GROUP BY bd.doc_id)
SELECT u.doc_id,
       COALESCE(v.n_lost = 0, TRUE) AS kept,
       CAST(COALESCE(v.n_bands, 0) AS BIGINT) AS n_bands,
       CAST(COALESCE(v.n_lost, 0) AS BIGINT) AS n_lost
FROM u LEFT JOIN verdict v ON v.doc_id = u.doc_id
"""


@query("s_dedup_near", oracle=_near_gate_oracle())
def s_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate gate: the reference's at-least-once dedup
    predicate (consumer.py:292-303, sequence-number identity) upgraded to
    CONTENT identity — MinHash band keys as the dedup key, so a document
    is dropped when ANY of its LSH bands was already claimed by an
    earlier-arriving document (the standard banded near-dup rule, the
    streaming sibling of q_dedup_minhash's pair semantics).

    Shape: the MinHash signature is computed ROW-LOCALLY inside the
    stream with the batch family's own helpers (dedup.shingle_sets →
    minhash_sig → minhash_bands: array expressions, no aggregation), so
    the query's single stateful stage is the per-band
    first-claimant aggregate: groupBy(window, band) . min(struct(ts,
    doc_id)) under a 1-hour watermark — per-band state is ONE struct,
    evicted when its window finalizes, so an unbounded stream holds
    bounded state (the dropDuplicatesWithinWatermark argument, s_dedup
    vs s_dedup_watermarked).  Arrival time is synthesized monotone in
    doc_id at staging (1 s per doc, strictly post-epoch), which makes the
    winner deterministic and batch-expressible: first-arriving ==
    smallest doc_id.  A far-future sentinel doc (nonce words — its
    shingles collide with nothing; its ts makes it no band's min) closes
    the window so the append-mode aggregate emits.  The kept verdict is
    read off the serving sink in batch (the s_heavy_hitters pattern) by
    joining it with the bands of the session-cached signature relation
    (dedup._spark_signatures: the same helpers, projected once per
    session): a doc is kept iff it lost NO band; sig-less docs (< 3
    words) carry no near-dup evidence and are kept unconditionally.
    Identity dedup (byte-identical redeliveries) happens at ingestion via
    unique_docs — the same two-stage exact-then-near layout a production
    gate runs."""
    from datetime import datetime, timedelta, timezone

    from kinesis_test_spark.iterate import truncate_lineage
    from kinesis_test_spark.operators.dedup import (
        N_BANDS, _spark_signatures, minhash_bands, minhash_sig, shingle_sets
    )
    from kinesis_test_spark.sources import unique_docs
    from pyspark.sql import Window

    d = scratch_dir("s_dedup_near")
    stage, cp = d / "src", d / "cp"
    name = _mem_name("near_gate")

    # materialized once: u feeds the count, the staged write, the batch
    # band relation AND the final verdict join — without the checkpoint
    # the doc-dedup aggregate executes four times.
    u = truncate_lineage(unique_docs(spark, sf_dir, cols=["doc_id", "text"]))
    # the epoch-anchored gate window must COVER the whole synthetic
    # timeline (1 s per doc): a fixed duration would silently strand docs
    # past its end in a second, never-finalized window (kept with no
    # verdict — the r14 review's ~315M-doc cliff), so the duration is
    # sized from the corpus and the sentinel placed just past it.
    n_docs = u.count()
    horizon_days = max(3650, n_docs // 86400 + 2)
    staged = u.select(
        "doc_id",
        "text",
        F.timestamp_seconds(
            F.row_number().over(Window.orderBy("doc_id"))
        ).alias("ts"),
        # staged as one file per core, not the single file the global
        # row_number window leaves behind: the micro-batch scan's split
        # count IS the band-compute parallelism (the md5-heavy signature
        # work otherwise serializes onto one task — guide §2.5 input skew).
        # SINGLE-BATCH ASSUMPTION (r14 ADVICE): this round-robin
        # repartition destroys the 'arrival ts monotone in doc_id'
        # property — early-ts rows land in arbitrary files. Correct
        # because the whole stage (~cores+1 files, no maxFilesPerTrigger
        # set) is consumed in ONE AvailableNow micro-batch, so the 1-hour
        # watermark only advances after every row is in state; if this
        # source is ever split into multiple batches, rows older than
        # watermark-1h would be dropped and winners would change.
    ).repartition(spark.sparkContext.defaultParallelism)
    sentinel = local_rows(
        spark,
        [(-(1 << 60), "wmsentinelxa wmsentinelxb wmsentinelxc",
          datetime(1970, 1, 1, tzinfo=timezone.utc)
          + timedelta(days=horizon_days + 2))],
        schema="doc_id bigint, text string, ts timestamp",
    )
    staged.unionByName(sentinel).write.mode("overwrite").parquet(str(stage))

    src = spark.readStream.schema("doc_id bigint, text string, ts timestamp").parquet(
        str(stage)
    )
    sets = shingle_sets(src.withWatermark("ts", "1 hour"), carry=["ts"])
    bands = minhash_bands(
        sets.select("ts", "doc_id", minhash_sig(F.col("sh")).alias("sig"))
    )
    winners = (
        bands.groupBy(F.window("ts", f"{horizon_days} days"), "b", "bkey")
        .agg(F.min(F.struct("ts", "doc_id")).alias("w"))
        .select("b", "bkey", F.col("w.doc_id").alias("winner_id"))
    )
    # State partitions sized to the STATE (≈ n_docs × N_BANDS one-struct
    # entries; ~500k keys per store keeps an instance tens of MB), not to
    # the session's core-count default: every state partition is a live
    # RocksDB instance paying open/commit/changelog per micro-batch
    # (measured ~1-1.7 s commit per instance per batch on this corpus, the
    # dominant cost of the whole query), and the count is locked in at the
    # first batch forever.  The derivation scales UP with the corpus —
    # a 100 TB stream gets thousands of partitions — while a small stream
    # stops paying fixed machinery for empty stores.  Band compute is
    # unaffected: it runs in the scan stage, whose parallelism is the
    # staged file count above.
    n_state = max(1, -(-(n_docs * N_BANDS) // 500_000))
    won = run_to_memory(winners, name, cp, output_mode="append", state_partitions=n_state)
    # the verdict side bands the session-cached signature relation, the
    # same shingle set and minhash_sig projection the stream applied row
    # by row, so the md5 sweep is not run a second time per session
    batch_bands = minhash_bands(_spark_signatures(spark, sf_dir)).select(
        "doc_id", "b", "bkey"
    )
    verdict = (
        batch_bands.join(won, ["b", "bkey"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.sum(
                F.when(F.col("winner_id") != F.col("doc_id"), 1).otherwise(0)
            ).alias("n_lost"),
        )
    )
    return u.select("doc_id").join(verdict, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_lost") == 0, F.lit(True)).alias("kept"),
        F.coalesce(F.col("n_bands"), F.lit(0)).cast("bigint").alias("n_bands"),
        F.coalesce(F.col("n_lost"), F.lit(0)).cast("bigint").alias("n_lost"),
    )


@query(
    "s_rate_limited",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_batches, COUNT(*) AS n_rows,
       COUNT(DISTINCT event_id) AS n_unique FROM events
""",
)
def s_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure-bounded drain: events staged as 4 files, read with
    maxFilesPerTrigger=1, so AvailableNow drains in 4 rate-limited
    micro-batches instead of one giant batch — the admission control that
    keeps a backlogged 100 TB source from sizing its first batch to the
    whole backlog (the reference consumed its 7-day lag in unbounded
    get_records loops, consumer.py:255-276). The sink records each
    batch_id; the result proves 4 batches and exactly-once landing."""
    import pandas as pd  # noqa: F401

    d = scratch_dir("s_rate_limited")
    stage, sink, cp = d / "src", d / "sink", d / "cp"
    for i in range(4):
        stage_events(spark, sf_dir, stage, f"slice_{i}", where=mod_slice(4, i))
    seen: list[int] = []

    def land(batch_df, batch_id):
        seen.append(batch_id)
        batch_df.write.mode("append").parquet(str(sink))

    drain(
        read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger=1)
        .select("event_id", "user_id", "event_type")
        .writeStream.foreachBatch(land),
        cp,
    )
    back = spark.read.parquet(str(sink))
    return back.agg(
        F.lit(len(seen)).cast("bigint").alias("n_batches"),
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_unique"),
    )


@query(
    "s_upsert",
    oracle="""
SELECT user_id, event_id AS last_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, value AS last_value
FROM (
  SELECT user_id, event_id, ts, value,
         -- placement-independent DESC NULLS LAST (boolean prefix + NULL-free
         -- COALESCE; DuckDB 1.0 misplaces NULL window-sort keys even with an
         -- explicit NULLS clause — r9 verdict, see q_agg_argmax)
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (ts IS NOT NULL) DESC, COALESCE(ts, TIMESTAMP '1970-01-01') DESC,
                                     (event_id IS NOT NULL) DESC, COALESCE(event_id, 0) DESC,
                                     (value IS NOT NULL) DESC, COALESCE(value, 0.0) DESC) AS rn
  FROM events) WHERE rn = 1
""",
)
def s_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert (CDC merge without a table format): each micro-batch
    merges into a keyed sink — union the existing snapshot with the batch,
    keep the latest row per user (arg-max on (ts, event_id)), overwrite.
    Delivered in 3 rate-limited batches so the merge genuinely runs
    incrementally; the final snapshot must equal the batch latest-per-key
    truth. At scale the merge becomes MERGE INTO on a table format (or a
    partition-overwrite keyed by bucket); the per-batch plan — broadcast
    of the small batch against the bucketed snapshot — is the same."""
    d = scratch_dir("s_upsert")
    stage, sink, cp = d / "src", d / "sink", d / "cp"
    for i in range(3):
        stage_events(spark, sf_dir, stage, f"slice_{i}", where=mod_slice(3, i))

    def merge(batch_df, _batch_id):
        latest_in_batch = (
            batch_df.select("user_id", F.struct("ts", "event_id", "value").alias("r"))
            .groupBy("user_id")
            .agg(F.max("r").alias("r"))
        )
        try:
            existing = spark.read.parquet(str(sink))
        except Exception:  # first batch: no snapshot yet
            existing = None
        if existing is not None:
            latest_in_batch = (
                existing.select("user_id", F.struct("ts", "event_id", "value").alias("r"))
                .unionByName(latest_in_batch)
                .groupBy("user_id")
                .agg(F.max("r").alias("r"))
            )
        out = latest_in_batch.select("user_id", "r.ts", "r.event_id", "r.value")
        tmp = d / f"snapshot_{_batch_id}"
        out.write.mode("overwrite").parquet(str(tmp))
        # atomic-ish swap: re-point by rewriting the sink from the staged copy
        spark.read.parquet(str(tmp)).write.mode("overwrite").parquet(str(sink))

    drain(
        read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger=1).writeStream.foreachBatch(merge),
        cp,
    )
    snap = spark.read.parquet(str(sink))
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


@query(
    "s_window_users",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       COUNT(DISTINCT user_id) AS n_users
FROM events WHERE ts IS NOT NULL GROUP BY 1
""",
)
def s_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour window on a STREAM: COUNT(DISTINCT) isn't a
    streaming aggregate, so the exact form is stateful dedup on
    (window, user) followed by a plain count — dropDuplicates state keyed
    exactly like the aggregate that follows it, both on the RocksDB
    store. The dashboard query (hourly active users) with exact, not
    sketched, semantics. NULL semantics (probe_nulls): COUNT(DISTINCT
    user_id) never counts NULL, so the post-dedup count is count(user_id)
    — not count(*), which would tally an anonymous-user row the SQL form
    ignores."""
    counts = (
        read_events_stream(spark, sf_dir)
        .select(F.window("ts", "1 hour").start.alias("window_start"), "user_id")
        .dropDuplicates(["window_start", "user_id"])
        .groupBy("window_start")
        .agg(F.count("user_id").alias("n_users"))
    )
    return _to_memory(counts, sf_dir, scratch_dir("s_window_users"), "complete")


HH_TOP_N = 3  # heavy hitters reported per window


@query(
    "s_heavy_hitters",
    oracle=f"""
WITH c AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2),
r AS (
  SELECT window_start, user_id, n,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n DESC, user_id ASC) AS rnk
  FROM c)
SELECT window_start, CAST(rnk AS INT) AS rnk, user_id, n
FROM r WHERE rnk <= {HH_TOP_N}
ORDER BY window_start, rnk
""",
)
def s_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: top-{HH_TOP_N} users per hour window by
    event count — the per-window hot-key report an ops dashboard reads
    off the live stream (the exact companion to the q_sketch_countmin
    batch sketch: at dashboard cardinalities the exact windowed count IS
    the 100 TB answer, because the streaming state is one row per
    (window, user) — bounded by active users per hour, not by events).
    The stateful stage is the windowed count (RocksDB state, AvailableNow
    drain); the top-k cut is a rank over the DRAINED sink — ranking is
    not a streaming aggregate, and a real pipeline reads the leaderboard
    off the serving table exactly like this. Identity-less rows are
    quarantined (a heavy hitter of unknown identity is not actionable —
    the s_window_users NULL convention); timeless rows drop from window()
    on both sides (ts IS NOT NULL mirror). n DESC ties break on user_id
    ASC — unique within a window, so the cut is placement-independent."""
    counts = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        _to_memory(counts, sf_dir, scratch_dir("s_heavy_hitters"), "complete")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= HH_TOP_N)
        .select("window_start", "rnk", "user_id", F.col("n").cast("bigint").alias("n"))
        .orderBy("window_start", "rnk")
    )


ALERT_THRESHOLD = 5  # fires on the upper tail at every test SF


@query(
    "s_alert",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, COUNT(*) AS n
FROM events WHERE event_type = 'error'
GROUP BY 1, 2 HAVING COUNT(*) > {ALERT_THRESHOLD}
""",
)
def s_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming threshold alerting: hourly error counts filtered to
    windows breaching the threshold — the windowed-HAVING shape every
    on-call alert rule compiles to. The pre-aggregation filter prunes the
    stream before any state (only 'error' rows enter the window store);
    the post-aggregation filter runs on the drained result."""
    win = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return _to_memory(win, sf_dir, scratch_dir("s_alert"), "complete").filter(F.col("n") > ALERT_THRESHOLD)


@query(
    "s_observe",
    oracle=f"""
SELECT CAST(COUNT(DISTINCT CASE WHEN user_id IS NULL THEN 0
                 ELSE ((user_id % 4) + 4) % 4 END) AS BIGINT) AS n_batches,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM({sql_cents_term("value")}), 0) AS DOUBLE) / 1.0e2
         AS total_value
FROM events
""",
)
def s_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via df.observe: per-micro-batch row
    count and value sum computed INSIDE the running stream (no second scan,
    no sink read-back) and surfaced through the query-progress channel —
    the pattern a production pipeline uses to alert on a dead upstream or
    a value-distribution shift while the batch is still in flight. Four
    staged files × maxFilesPerTrigger=1 make the batch structure
    deterministic; the per-batch sums stay DECIMAL until the final single
    conversion, so four-batch accumulation is bit-identical to the batch
    oracle's one-shot decimal sum. n_batches counts ROW-CARRYING batches
    (the oracle derives it as the number of non-empty staged slices), and
    an empty stream reports (0, 0, 0.0) — edge_empty corpus."""
    from decimal import Decimal

    d = scratch_dir("s_observe")
    stage, cp = d / "src", d / "cp"
    for i in range(4):
        stage_events(spark, sf_dir, stage, f"slice_{i}", where=mod_slice(4, i))
    name = _mem_name("observe")
    observed = read_staged_stream(
        spark, sf_dir, stage, maxFilesPerTrigger="1"
    ).observe(
        "metrics",
        F.count(F.lit(1)).alias("n"),
        cents_sum("value", 18, 2).alias("v"),
    )
    q = drain(
        observed.select("event_id").writeStream.format("memory").queryName(name).outputMode("append"),
        cp,
    )
    n_rows, total = 0, Decimal(0)
    n_batches = 0
    for prog in q.recentProgress:
        om = prog.observedMetrics
        m = om.get("metrics") if om else None
        if m is None or not m["n"]:
            continue
        n_batches += 1
        n_rows += int(m["n"])
        total += Decimal(str(m["v"]))
    return local_rows(
        spark,
        [(n_batches, n_rows, float(total) / 100.0)],
        "n_batches bigint, n_rows bigint, total_value double",
    )


@query(
    "s_table_stream",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM events GROUP BY event_type
""",
)
def s_table_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sink INTO the commit-log table format (sources/
    tablelog.py): each micro-batch lands one data file then publishes one
    commit — so concurrent readers only ever see whole batches, and a
    retried batch is IDEMPOTENT (the batch id is recorded in the commit's
    METADATA and replay detection reads the log for it — never inferred
    from the version file name, which under the CAS protocol belongs to
    whichever writer won that version — the exactly-once contract
    foreachBatch asks the sink to provide). Four rate-limited batches;
    the final snapshot read must equal the batch truth."""
    import shutil

    from kinesis_test_spark.sources.tablelog import (
        batch_committed,
        commit,
        live_files,
    )

    d = scratch_dir("s_table_stream")
    stage, cp, table = d / "src", d / "cp", d / "table"
    table.mkdir(parents=True)
    for i in range(4):
        stage_events(spark, sf_dir, stage, f"slice_{i}", where=mod_slice(4, i))

    # sink identity = checkpoint path: batch ids are per QUERY, so replay
    # detection must never match another sink's (or a wiped-checkpoint
    # successor's) counter — see tablelog.batch_committed
    sink_id = str(cp)

    def land(batch_df, batch_id):
        if batch_committed(table, batch_id, sink=sink_id):  # replay: skip
            return
        name = f"batch_{batch_id}.parquet"
        tmp = table / f"_tmp_{batch_id}"
        # mode("overwrite") also clears a half-written tmp a crash left
        # behind — errorifexists would turn recovery into a crash loop
        batch_df.select("event_id", "user_id", "event_type", "value").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        part.replace(table / name)
        shutil.rmtree(tmp)
        commit(
            table,
            adds=[name],
            removes=[],
            meta={"batch_id": batch_id, "sink": sink_id},
        )

    drain(
        read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger="1").writeStream.foreachBatch(land),
        cp,
    )
    # replay batch 0 against the published log — must be a no-op
    replay = spark.read.parquet(str(stage)).limit(10)
    land(replay, 0)
    back = spark.read.parquet(*live_files(table))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value", "sum_value", 18, 6),
    )


@query(
    "s_avro_ingest",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM events GROUP BY event_type
""",
)
def s_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Avro ingest without the spark-avro jar: container files
    arrive on a watched directory, the binaryFile streaming source picks
    each up whole, and the pure-Python codec (sources/avro_py.py) parses
    inside Arrow-batched mapInPandas — schema'd wire records on a stream,
    which is exactly the reference's consume shape with Avro in place of
    JSON (consumer.py:123 record decode). Complete-mode counts must equal
    the batch truth. Files are the admission unit (4 staged containers →
    4 parse tasks); at 100 TB the same plan drains an object-store prefix
    with one parse task per arriving object."""
    from collections.abc import Iterator

    import pandas as pd

    from kinesis_test_spark.sources.avro_py import (
        EVENT_SCHEMA,
        exact_records,
        read_container,
        write_container,
    )

    d = scratch_dir("s_avro_ingest")
    stage = d / "src"
    stage.mkdir(parents=True)
    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
    )
    for i in range(4):  # staging rig only — the operator under test is the READ
        part = src.filter(mod_slice(4, i))
        (stage / f"events_{i}.avro").write_bytes(
            write_container(exact_records(part), EVENT_SCHEMA)
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                _, recs = read_container(bytes(content))
                yield pd.DataFrame(
                    recs, columns=["event_id", "user_id", "event_type", "value"]
                )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.avro")
        .load(str(stage))
        .select("content")
        .mapInPandas(
            parse, "event_id long, user_id long, event_type string, value double"
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value", "sum_value", 18, 6),
        )
    )
    return _to_memory(stream, sf_dir, d, "complete")


@query("s_session_dynamic", oracle=SESSION_DYNAMIC_ORACLE)
def s_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows ON A STREAM: the per-event gap
    expression (engaged clicks/views 30 min, heavy events 60) drives
    session_window's dynamic form inside a streaming aggregation — state
    merges sessions as events arrive, exactly the batch semantics
    (q_session_dynamic and its cummax-derived oracle). Complete-mode
    drain must equal the batch answer."""
    win = session_counts(read_events_stream(spark, sf_dir), dynamic_gap())
    return _to_memory(win, sf_dir, scratch_dir("s_session_dyn"), "complete")


@query(
    "s_stream_union",
    oracle="""
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
""",
)
def s_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two independent streaming SOURCES feeding one stateful
    aggregation — the multi-region/multi-topic ingest topology (the
    reference reads exactly one stream; production fleets merge several).
    Each source drains its own staged directory at its own pace; the
    union is row-level and the downstream aggregate sees one logical
    stream. Complete-mode counts must equal the batch truth over the
    disjoint halves."""
    d = scratch_dir("s_union")
    stage_a, stage_b = d / "src_a", d / "src_b"
    stage_events(spark, sf_dir, stage_a, "east", where=mod_slice(2, 0))
    stage_events(spark, sf_dir, stage_b, "west", where=mod_slice(2, 1))
    merged = (
        read_staged_stream(spark, sf_dir, stage_a)
        .unionByName(read_staged_stream(spark, sf_dir, stage_b))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _to_memory(merged, sf_dir, d, "complete")


TTL_MS = 30 * 60 * 1000  # session expires after 30 min of event-time silence
# An expired key's lease stub lingers one TTL past expiry before GC: long
# enough that a promptly-returning key keeps its fencing counter, short
# enough that state stays O(recently-active keys). After GC a reappearing
# key restarts at lease 1 — counters can't outlive state retention.
GRACE_MS = TTL_MS


def ttl_session_stream(stream: DataFrame, ignore_after_ms: int | None = None) -> DataFrame:
    """The TTL-sessionizer stateful operator over a watermarked event
    stream — shared by s_state_ttl and the crafted-arrival boundary test
    (tests/test_streaming.py), so the pinned expiry/fencing semantics are
    the exact code the registered query runs.

    ``ignore_after_ms``: rows with event-time past this bound still ADVANCE
    the watermark (they flow through the watermark node untouched) but are
    never sessionized — the out-of-band contract for the rig's far-future
    watermark-advancer rows. In-band sentinel identities (a reserved
    user_id/event_id) are wrong by construction: any in-band value can
    collide with real data (edge_negatives corpus planted a real user -1
    and its sessions were swept / relabeled). A pre-filter in the plan
    would be pushed below the watermark node and defeat the advance; the
    ignore inside the stateful function happens above it."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("lease", LongType()),
            StructField("n_events", LongType()),
            StructField("first_ms", LongType()),
            StructField("last_ms", LongType()),
            StructField("closed_by", StringType()),
        ]
    )
    # (lease, n, first_ms, last_ms); n == 0 marks an expired-lease stub
    # waiting out its grace period.
    state_schema = StructType(
        [
            StructField("lease", LongType()),
            StructField("n", LongType()),
            StructField("first_ms", LongType()),
            StructField("last_ms", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            lease, n, first_ms, last_ms = state.get
            if n == 0:  # grace expired with no reactivation — GC the stub
                state.remove()
                return
            # lease expiry: emit the closed session, leave a fenced stub
            state.update((lease + 1, 0, 0, 0))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + GRACE_MS)
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "lease": [lease],
                    "n_events": [n],
                    "first_ms": [first_ms],
                    "last_ms": [last_ms],
                    "closed_by": ["timeout"],
                }
            )
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        if ignore_after_ms is not None:
            ts_ms = [t for t in ts_ms if t <= ignore_after_ms]
        if not ts_ms:
            # watermark-advancer rows only: keep state untouched, but
            # RE-REGISTER the timeout (an invocation clears it), clamped
            # above the current watermark (an already-due session fires on
            # the next advance; Spark rejects a stale timestamp)
            if state.exists:
                lease, n, first_ms, last_ms = state.get
                due = (
                    last_ms + TTL_MS + 1
                    if n
                    else state.getCurrentWatermarkMs() + GRACE_MS
                )
                state.setTimeoutTimestamp(max(due, state.getCurrentWatermarkMs() + 1))
            return
        if state.exists:
            lease, n, first_ms, last_ms = state.get
        else:
            lease, n, first_ms, last_ms = 1, 0, 0, 0
        closed = {"user_id": [], "lease": [], "n_events": [],
                  "first_ms": [], "last_ms": [], "closed_by": []}
        for t in ts_ms:
            if n and t - last_ms > TTL_MS:  # in-batch TTL breach
                closed["user_id"].append(uid)
                closed["lease"].append(lease)
                closed["n_events"].append(n)
                closed["first_ms"].append(first_ms)
                closed["last_ms"].append(last_ms)
                closed["closed_by"].append("gap")
                lease, n = lease + 1, 0
            if n == 0:
                first_ms = t
                last_ms = t
            else:
                # Late-but-within-watermark arrivals (tests/test_edge_late):
                # a later BATCH can carry a row older than the open
                # session's tail (rows are sorted within a batch, not
                # across batches). The merge must be order-robust — an
                # unconditional `last_ms = t` REGRESSED the tail, which
                # re-armed the event-time timeout early (premature expiry)
                # and emitted a truncated session; the head symmetrically
                # clamps to the true minimum. Ordered input is unaffected
                # (t >= last_ms makes max/min the identity).
                first_ms = min(first_ms, t)
                last_ms = max(last_ms, t)
            n += 1
        state.update((lease, n, first_ms, last_ms))
        # +1 so an event landing exactly at last + TTL still joins the lease
        state.setTimeoutTimestamp(last_ms + TTL_MS + 1)
        if closed["user_id"]:
            yield pd.DataFrame(closed)

    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "s_state_ttl",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR {sql_ms("ts")} - {sql_ms("lag(ts) OVER w")} > {TTL_MS}
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE {POST_EPOCH_SQL.format(col='ts')}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
  FROM flagged),
sess AS (
  SELECT user_id, seq,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST({sql_ms("MIN(ts)")} AS BIGINT) AS first_ms,
         CAST({sql_ms("MAX(ts)")} AS BIGINT) AS last_ms
  FROM numbered GROUP BY user_id, seq)
SELECT user_id, seq AS lease, n_events, first_ms, last_ms,
       CASE WHEN seq = MAX(seq) OVER (PARTITION BY user_id)
            THEN 'timeout' ELSE 'gap' END AS closed_by
FROM sess
""",
)
def s_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State TTL / lease expiry via applyInPandasWithState with
    EVENT-TIME TIMEOUT — the reference's DynamoDB lease semantics
    (README.md:2-6, consumer.py:169-218): a key silent for TTL loses its
    lease, the closed session is emitted exactly once, and when the key
    reappears it starts a NEW session under an incremented lease counter
    (the fencing token, consumer.py:189). Three mechanics in one operator:

    * IN-BATCH splits: a micro-batch can span many TTL windows, so the
      update function itself walks the key's rows in (ts, event_id) order
      and closes a session on every gap > TTL ('gap' rows) — state holds
      only the trailing OPEN session, never the batch;
    * CROSS-BATCH expiry: the open session registers an event-time timeout
      at last_event + TTL; when the WATERMARK passes it the state times
      out, the session is emitted ('timeout' rows), and the lease counter
      is bumped — driven by other keys' progress, exactly like a lease
      stolen by a live worker from a dead one;
    * GC with grace: an expired key's (lease, 0-event) stub survives
      GRACE_MS past its expiry so a prompt reactivation keeps a
      monotonically increasing lease, then the stub removes itself — state
      size stays O(active keys), the property that matters at 100 TB.

    Emission is append-only into a parquet sink behind a checkpoint
    (exactly-once across the phased drain). The AvailableNow drain needs
    later batches to advance the watermark before timeouts fire, so after
    the real data two far-future sentinel arrivals push it forward. The
    sentinels are identified OUT-OF-BAND by time (rows past the real
    data's max ts are ignored inside the stateful function — see
    ttl_session_stream's ignore_after_ms), never by a reserved id: a real
    user -1 is legal data (edge_negatives corpus) and an id-based drop
    swept its sessions. Because the real events arrive in one staged
    file, the emitted sessions equal batch 30-min-gap sessionization with
    the final session per user closed by timeout — giving this stateful
    op a full value oracle instead of the usual rows-only check."""
    d = scratch_dir("s_state_ttl")
    stage = d / "src"
    stage.mkdir(parents=True, exist_ok=True)  # stream defined before first arrival
    max_real_ms = t(spark, sf_dir, "events").agg(F.max(F.unix_millis("ts"))).first()[0]
    # strictly post-epoch domain: applyInPandasWithState drops pre-epoch
    # event times against the initial watermark (pipeline.post_epoch)
    sessions = ttl_session_stream(
        post_epoch(read_staged_stream(spark, sf_dir, stage)),
        ignore_after_ms=max_real_ms,
    )

    # state = one open session per active user — sized from the input
    # volume (locks into the checkpoint at the first drain); the pandas
    # state function also runs once per state PARTITION per batch, so the
    # 32-partition default paid 3 drains × 32 Python-side state tasks for
    # a handful of keys at fixture scale
    _sentinel_drain(spark, sf_dir, sessions, d, keys=[(-1, -1, "click")])
    # no read-back scrubbing needed: sentinel rows were never sessionized
    # (ignored out-of-band inside the stateful function), so every emitted
    # session is real data — including negative-id and NULL users. Explicit
    # schema: an empty run leaves no sink files to infer from (edge_empty).
    return spark.read.schema(
        "user_id bigint, lease bigint, n_events bigint,"
        " first_ms bigint, last_ms bigint, closed_by string"
    ).parquet(str(d / "out"))
