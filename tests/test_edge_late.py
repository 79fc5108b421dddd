"""SIXTEENTH adversarial class: LATE / OUT-OF-ORDER ARRIVAL (VERDICT r8
#6 — the at-least-once-with-delay shape; reference analog
``MillisBehindLatest``, record.json:42).

Two attack surfaces:

1. **Corpus** (``plant_late``): rows whose event_id/user_id place them in
   the LAST staged batch of every multi-batch rig (event_id-range splits,
   mod_slice splits) while their ts is among the OLDEST in the table —
   the id↔time anti-correlation a backlogged shard replays with. A batch
   oracle never cares; any engine path that implicitly assumed "later
   file ⇒ later time" does. Swept over the whole surface by
   tools/battery.py --class late.

2. **Arrival experiments** (the pins below): purpose-built micro-streams
   delivering rows N minutes past their event-time order across
   micro-batch boundaries, pinning the dropped-vs-kept contract of every
   watermark-consuming operator family: windowed aggregation,
   dropDuplicatesWithinWatermark, stream-stream join state eviction, and
   the TTL sessionizer. The registered s_* rigs deliver all real data in
   ONE batch (arrival order is the rig's, not the fixture's), so their
   oracles assume nothing about lateness — these pins are where the
   engine's late contract is stated and kept.
"""

from __future__ import annotations

import shutil
import uuid
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from edge_rig import EVENT_COLS, append_events
from kinesis_test_spark.streaming.pipeline import (
    events_schema,
    local_rows,
    read_staged_stream,
    scratch_dir,
)

SF_SRC = "/root/testdata/sf0.001"

# fixture timeline is 2024-01-01 .. 2024-01-30 (ids 0-999, users 0-14)
_JAN1_US = 1_704_067_200_000_000


def plant_late(src: str, dest: Path) -> None:
    """Restage ``src`` with id↔time ANTI-CORRELATED events appended:
    high event_ids (land in the last event_id-range batch) and user_ids
    11/23 (land in the last mod_slice(4)/(3)/(2) batches) carrying ts
    from the FIRST hours of the fixture timeline, plus a delayed cluster
    hours behind the fixture max. Legal rows in every column."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    types = ["click", "view", "purchase", "signup", "error"]
    rows = {k: [] for k in EVENT_COLS}

    def add(eid, ts_us, uid, etype, value, props='{"k": 1}'):
        rows["event_id"].append(eid)
        rows["ts"].append(ts_us)
        rows["user_id"].append(uid)
        rows["event_type"].append(etype)
        rows["value"].append(value)
        rows["props"].append(props)

    # anti-correlated: newest ids / last mod-slices, OLDEST times
    for i in range(10):
        add(5000 + i, _JAN1_US + i * 613_000_000, 11, types[i % 5], 2.5 + i)
    for i in range(10):
        add(5010 + i, _JAN1_US + 3_600_000_000 + i * 401_000_000, 23,
            types[(i + 2) % 5], -1.5 * i)
    # delayed cluster: replayed hours behind the fixture max (Jan 30),
    # scattered mid-timeline
    for i in range(8):
        add(5100 + i, _JAN1_US + (14 * 24 + i) * 3_600_000_000, 7 + (i % 3),
            types[(i + 1) % 5], 0.25 * i)

    append_events(dest, rows)


# --- corpus pins (representative multi-batch rigs; the full surface is
# --- swept by tools/battery.py --class late) ---------------------------

LATE_CORPUS_KEYS = [
    "s_checkpoint",      # event_id-range split: last batch now carries Jan-1 ts
    "s_rate_limited",    # mod_slice(4): user 11/23 rows in late slices
    "s_upsert",          # mod_slice(3) + argmax-by-ts oracle
    "s_observe",         # mod_slice(4) + per-batch metrics
    "s_table_stream",    # mod_slice(4) + tablelog sink
    "s_stream_union",    # mod_slice(2) across two sources
    "s_dedup_watermarked",  # 1h watermark, duplicate full copies
    "s_state_ttl",       # event-time TTL sessionizer
    "q_join_asof",       # batch as-of: order-insensitive by construction
    "q_sessionize",      # batch sessionizer over the scrambled timeline
]


@pytest.fixture(scope="module")
def late_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("late_sf")
    plant_late(SF_SRC, d)
    return str(d)


@pytest.mark.parametrize("key", LATE_CORPUS_KEYS)
def test_late_corpus_parity(spark, late_dir, key):
    from kinesis_test_spark.oracle import check_query

    assert check_query(spark, late_dir, key) == []


# --- arrival experiments -------------------------------------------------

T0_US = 1_717_200_000_000_000  # 2024-06-01 00:00:00 UTC in µs
MIN_US = 60_000_000
HOUR_US = 3_600_000_000
EPOCH = datetime(1970, 1, 1)


@pytest.fixture()
def micro(spark, sf_dir):
    """Micro-stream rig: tiny shuffle-partition count (state-store init
    dominates otherwise — the test_stream_join_left_watermark_boundary
    lesson), a staged source dir, and an encoding-adaptive batch stager."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    d = scratch_dir(f"late_{uuid.uuid4().hex[:8]}")
    stage = d / "src"
    stage.mkdir(parents=True, exist_ok=True)
    schema = events_schema(spark, sf_dir)
    ts_is_long = isinstance(schema["ts"].dataType, LongType)

    def ts_val(us: int):
        return us * 1000 if ts_is_long else EPOCH + timedelta(microseconds=us)

    def stage_batch(name, rows):
        """rows: (event_id, ts_us, user_id, event_type) tuples."""
        tmp = stage.parent / f"_tmp_{name}"
        local_rows(
            spark,
            [(eid, ts_val(us), uid, et, 0.0, "{}") for eid, us, uid, et in rows],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(Path(tmp).glob("part-*.parquet"))
        shutil.move(str(part), stage / f"{name}.parquet")
        shutil.rmtree(tmp)

    try:
        yield d, stage, stage_batch
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_phased(spark, sf_dir, stage, build, cp, name, output_mode="append",
                  phases=()):
    """Start a memory-sink stream over ``stage``, processAllAvailable,
    then for each phase callback: run it (stages another batch) and
    process again. Returns the final table."""
    df = build(read_staged_stream(spark, sf_dir, stage))
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(cp))
        .start()
    )
    # try/finally: a raising phase (or processAllAvailable) must not leak
    # the query — a leaked stream keeps running against the shared session
    # and is exactly the micro-batch-contention flake class the ledger
    # documents (r9 ADVICE)
    try:
        q.processAllAvailable()
        for phase in phases:
            phase()
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_tumbling_window_late_row_contract(spark, sf_dir, micro):
    """Windowed aggregation + 10-min watermark, append mode — the
    dropped-vs-kept boundary (probed before pinning):

      * a late row whose WINDOW's end is <= the current watermark is
        DROPPED (ids 3 and 7 — their [00:00) / [01:00) windows are
        sealed; the finalized count never includes them);
      * a late row whose window is still open is KEPT even though its
        own ts is far behind the watermark (id 4: ts 02:30 vs wm 02:55 —
        window [02:00,03:00) end > wm);
      * a row with ts EXACTLY at the watermark is kept (id 6);
      * a window finalizes (emits) only once the watermark passes its
        end, and never re-emits."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    def build(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )

    stage_batch("b1", [(1, T0_US + 5 * MIN, 1, "click"),
                       (2, T0_US + 3 * H + 5 * MIN, 1, "click")])
    out = _drain_phased(
        spark, sf_dir, stage, build, d / "cp", f"late_tw_{uuid.uuid4().hex[:6]}",
        phases=[
            # wm now 02:55 — id 3 late-beyond (window sealed), id 4
            # late-within (window [02:00) still open)
            lambda: stage_batch("b2", [(3, T0_US + 30 * MIN, 1, "click"),
                                       (4, T0_US + 2 * H + 30 * MIN, 1, "click")]),
            # advancer: wm -> 09:50, finalizes [02:00) and [03:00)
            lambda: stage_batch("b3", [(5, T0_US + 10 * H, 9, "click")]),
            # id 6 exactly AT the watermark (09:50); id 7 late-beyond
            lambda: stage_batch("b4", [(6, T0_US + 9 * H + 50 * MIN, 1, "click"),
                                       (7, T0_US + 1 * H, 1, "click")]),
            # final advancer finalizes [09:00) and [10:00)
            lambda: stage_batch("b5", [(8, T0_US + 24 * H, 9, "click")]),
        ],
    )
    got = sorted((str(r.ws), r.n) for r in out.collect())
    assert got == [
        ("2024-06-01 00:00:00", 1),   # id 1 only — late id 3 dropped
        ("2024-06-01 02:00:00", 1),   # late-within id 4 counted
        ("2024-06-01 03:00:00", 1),   # id 2
        ("2024-06-01 09:00:00", 1),   # exactly-at-watermark id 6 kept
        ("2024-06-01 10:00:00", 1),   # advancer id 5's own window
    ]


def test_dedup_watermarked_late_contract(spark, sf_dir, micro):
    """dropDuplicatesWithinWatermark under delayed redelivery: a dup
    redelivered behind the watermark stays suppressed; a NEW row behind
    the watermark is DROPPED (the at-least-once-with-delay data loss the
    watermark contract accepts — delivery later than the declared bound
    is out of contract); a new row inside the bound is kept."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    def build(stream):
        return (
            stream.withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )

    stage_batch("b1", [(1, T0_US, 1, "click"), (2, T0_US + H, 1, "click")])
    out = _drain_phased(
        spark, sf_dir, stage, build, d / "cp", f"late_dd_{uuid.uuid4().hex[:6]}",
        phases=[
            # wm = 00:30. id 1 redelivered late (suppressed either way);
            # id 3 NEW at 00:05 (< wm) -> dropped; id 4 NEW at 00:50 -> kept
            lambda: stage_batch("b2", [(1, T0_US, 1, "click"),
                                       (3, T0_US + 5 * MIN, 1, "click"),
                                       (4, T0_US + 50 * MIN, 1, "click")]),
        ],
    )
    assert sorted(r.event_id for r in out.collect()) == [1, 2, 4]


def test_stream_join_late_contract(spark, sf_dir, micro):
    """Watermarked stream-stream inner join, both sides advanced: a
    right-side row delivered behind the watermark finds NO match (left
    state evicted once the join window can no longer admit an on-time
    row; the late row itself is discarded), while an on-time row pairs.

    Also pins the MIN-policy subtlety the first probe found: each side's
    watermark advances only on ITS OWN arrivals — a side that has seen
    no rows holds the GLOBAL watermark at the epoch, so nothing is ever
    late and no state is evicted (the attribution-pipeline gotcha: a
    quiet purchase stream keeps every click in state forever — state is
    bounded by the SLOWEST side's progress, not wall-clock)."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    def side(etype, alias_id, uid, ts):
        return (
            read_staged_stream(spark, sf_dir, stage)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(alias_id),
                F.col("user_id").alias(uid),
                F.col("ts").alias(ts),
            )
            .withWatermark(ts, "10 minutes")
        )

    # both sides advance in b1: purchase 90 (user 8, matches nothing)
    # pushes the right-side watermark to 01:50 alongside the clicks'
    stage_batch("b1", [(1, T0_US, 1, "click"),
                       (2, T0_US + 2 * H, 1, "click"),
                       (90, T0_US + 2 * H, 8, "purchase")])
    left = side("click", "click_id", "user_id", "ts_a")
    right = side("purchase", "purchase_id", "user_id_b", "ts_b")
    joined = left.join(
        right,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    ).select("click_id", "purchase_id")
    name = f"late_sj_{uuid.uuid4().hex[:6]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(d / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
        # purchase 101 arrives 2h late for click 1 (wm 01:50) -> no pair;
        # purchase 102 on-time for click 2 -> pairs
        stage_batch("b2", [(101, T0_US + 2 * MIN, 1, "purchase"),
                           (102, T0_US + 2 * H + 2 * MIN, 1, "purchase")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.click_id, r.purchase_id) for r in spark.table(name).collect())
    assert got == [(2, 102)]


def _ttl_sessions(spark, sf_dir, stage, d, name, phases):
    from kinesis_test_spark.streaming.queries import ttl_session_stream

    return _drain_phased(
        spark, sf_dir, stage,
        lambda stream: ttl_session_stream(stream),
        d / "cp", name, phases=phases,
    )


def test_ttl_session_late_beyond_watermark_cannot_resurrect(spark, sf_dir, micro):
    """A row behind the watermark never reaches the TTL sessionizer
    (applyInPandasWithState drops it): a session already closed by
    timeout must not be resurrected, no new lease may start from the
    late row, and the emitted session set for the user is exactly the
    one pre-expiry session."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    stage_batch("b1", [(1, T0_US, 1, "click"), (2, T0_US + MIN, 1, "click")])
    out = _ttl_sessions(
        spark, sf_dir, stage, d, f"late_ttl_{uuid.uuid4().hex[:6]}",
        phases=[
            # wm (epoch-floored) after b1 is still pre-T0; this advancer
            # batch carries wm past user 1's expiry on the NEXT batch
            lambda: stage_batch("b2", [(900, T0_US + 5 * H, 99, "click")]),
            # timeout fires during b3 (wm = 04:50); the late row (00:02,
            # far behind wm) is dropped before the stateful fn sees it
            lambda: stage_batch("b3", [(3, T0_US + 2 * MIN, 1, "click")]),
            # further advances flush any (wrong) resurrected session
            lambda: stage_batch("b4", [(901, T0_US + 10 * H, 99, "click")]),
            lambda: stage_batch("b5", [(902, T0_US + 15 * H, 99, "click")]),
        ],
    )
    u1 = [r.asDict() for r in out.collect() if r.user_id == 1]
    assert len(u1) == 1
    s = u1[0]
    assert (s["lease"], s["n_events"], s["closed_by"]) == (1, 2, "timeout")
    assert s["first_ms"] == T0_US // 1000
    assert s["last_ms"] == (T0_US + MIN) // 1000


def test_ttl_session_out_of_order_within_watermark_merges(spark, sf_dir, micro):
    """A late-but-within-watermark row (a later batch carrying an OLDER
    event time) must MERGE into the open session without regressing its
    tail: before the round-9 fix, `last_ms = t` unconditionally meant the
    out-of-order row re-armed the event-time timeout EARLY and the
    session emitted a truncated last_ms. Pinned: n_events counts the late
    row, first/last span the true min/max, and expiry fires from the true
    tail."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    # b1: user 2 at 00:00 and 00:08 (wm after b1 = 00:00 - nothing late)
    stage_batch("b1", [(10, T0_US, 2, "click"), (11, T0_US + 8 * MIN, 2, "click")])
    out = _ttl_sessions(
        spark, sf_dir, stage, d, f"late_ooo_{uuid.uuid4().hex[:6]}",
        phases=[
            # b2: out-of-order row at 00:04 — older than the session tail
            # (00:08) but above the watermark -> merges
            lambda: stage_batch("b2", [(12, T0_US + 4 * MIN, 2, "click")]),
            # advancers: expire the session and fire the timeout
            lambda: stage_batch("b3", [(900, T0_US + 5 * H, 99, "click")]),
            lambda: stage_batch("b4", [(901, T0_US + 10 * H, 99, "click")]),
            lambda: stage_batch("b5", [(902, T0_US + 15 * H, 99, "click")]),
        ],
    )
    u2 = [r.asDict() for r in out.collect() if r.user_id == 2]
    assert len(u2) == 1
    s = u2[0]
    assert (s["lease"], s["n_events"], s["closed_by"]) == (1, 3, "timeout")
    assert s["first_ms"] == T0_US // 1000
    assert s["last_ms"] == (T0_US + 8 * MIN) // 1000  # tail NOT regressed


def test_session_window_late_row_contract(spark, sf_dir, micro):
    """session_window + watermark under late arrival (probed before
    pinning):

      * a FINALIZED session is immutable — a late row landing inside its
        time range (behind the watermark) is dropped, never amends or
        re-emits the session;
      * late-but-above-watermark rows are admitted: one starts a new
        session, and a later one that lands in the GAP between two OPEN
        sessions BRIDGES them — three rows staged across two batches
        merge into ONE session spanning all of them (the cross-batch
        session-merge case);
      * sessions finalize only when the watermark passes their end."""
    d, stage, stage_batch = micro
    H, MIN = HOUR_US, MIN_US

    def build(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id", F.session_window("ts", "10 minutes"))
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("session_window.start").alias("ss"), "n")
        )

    stage_batch("b1", [(1, T0_US, 1, "click"),
                       (2, T0_US + 5 * MIN, 1, "click"),
                       (90, T0_US + 1 * H, 9, "click")])
    out = _drain_phased(
        spark, sf_dir, stage, build, d / "cp", f"late_sw_{uuid.uuid4().hex[:6]}",
        phases=[
            # wm = 00:50: id 3 is late INSIDE the closed [00:00] session
            # (dropped); ids 4/5 are above wm — two open sessions 14 min
            # apart ([00:52], [01:06])
            lambda: stage_batch("b2", [(3, T0_US + 7 * MIN, 1, "click"),
                                       (4, T0_US + 52 * MIN, 1, "click"),
                                       (5, T0_US + 66 * MIN, 1, "click")]),
            # wm = 00:56: id 6 at 01:00 is out-of-order but admitted, and
            # lands in the gap between the two open sessions -> BRIDGE
            lambda: stage_batch("b3", [(6, T0_US + 60 * MIN, 1, "click")]),
            # finalize everything still open
            lambda: stage_batch("b4", [(91, T0_US + 5 * H, 9, "click")]),
        ],
    )
    u1 = sorted((str(r.ss), r.n) for r in out.collect() if r.user_id == 1)
    assert u1 == [
        ("2024-06-01 00:00:00", 2),   # closed session NOT amended by id 3
        ("2024-06-01 00:52:00", 3),   # ids 4+5+6 merged into one session
    ]
