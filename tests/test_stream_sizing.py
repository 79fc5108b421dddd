"""Every streaming key starts through one pipeline helper, and the state
sizing it asks for is the sizing its streams run with.

``streaming/pipeline.start_stream`` holds ``sized_state`` across
``.start()`` only. A stateful stream still locks the requested count into
its checkpoint (the query plans in its own clone of the session), while
the shared session reads its own default again before any batch runs.
These tests record ``numShufflePartitions`` and ``numStateStoreInstances``
of every stream each ``s_*`` key starts, with a StreamingQueryListener,
and hold them to the sizing rule: the events volume
(``state_partitions_for(events)``), s_dedup_near's rows-derived count, or
s_python_source's fixed 1.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from kinesis_test_spark import registry

registry.load_all()

# a session default no sizing rule yields at fixture scale, so an unsized
# stream cannot pass by coincidence
DEFAULT = "7"
EVENTS_SIZED = {
    "s_ingest", "s_tumbling", "s_sliding", "s_session", "s_dedup",
    "s_stateful_count", "s_watermark", "s_json_ingest", "s_custom_state",
    "s_static_join", "s_stream_join", "s_stream_join_left",
    "s_reference_pipeline", "s_dedup_watermarked", "s_window_users",
    "s_heavy_hitters", "s_alert", "s_avro_ingest", "s_session_dynamic",
    "s_stream_union", "s_state_ttl",
}
OWN_COUNT = {"s_dedup_near", "s_python_source"}
# stream-stream joins keep four stores per partition (keys and values of
# each side), and Spark 4.1 reports no instance count for session-window
# state; every other stateful operator keeps one store per partition
STORES_PER_PARTITION = {"symmetricHashJoin": 4, "sessionWindowStateStoreSaveExec": 0}


class _Streams(StreamingQueryListener):
    """State-operator sizes of every query started while registered."""

    def __init__(self) -> None:
        self.started: set[str] = set()
        self.ended: set[str] = set()
        self.ops: dict[str, set[tuple[str, int, int]]] = {}

    def onQueryStarted(self, event) -> None:
        self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        for op in p.stateOperators:
            self.ops.setdefault(str(p.id), set()).add(
                (op.operatorName, op.numShufflePartitions, op.numStateStoreInstances)
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.ended.add(str(event.id))

    def settle(self, timeout_s: float = 30.0) -> None:
        # events reach Python asynchronously; a query's progress events
        # precede its termination event
        deadline = time.monotonic() + timeout_s
        while not (self.started and self.started <= self.ended) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert self.started and self.started <= self.ended, (self.started, self.ended)


@pytest.fixture
def streams(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", DEFAULT)
    listener = _Streams()
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _expected(spark, sf_dir: str, key: str) -> int:
    from kinesis_test_spark.streaming.pipeline import state_partitions_for

    if key == "s_python_source":
        return 1
    if key == "s_dedup_near":
        from kinesis_test_spark.operators.dedup import N_BANDS
        from kinesis_test_spark.sources import unique_docs

        n_docs = unique_docs(spark, sf_dir, cols=["doc_id"]).count()
        return max(1, -(-(n_docs * N_BANDS) // 500_000))
    return state_partitions_for(spark, f"{sf_dir}/events.parquet")


STREAM_KEYS = sorted(k for k in registry.QUERIES if k.startswith("s_"))


def test_every_stateful_key_is_listed():
    assert EVENTS_SIZED | OWN_COUNT <= set(STREAM_KEYS)


@pytest.mark.parametrize("key", STREAM_KEYS)
def test_stream_key_runs_with_its_sizing_rule(spark, sf_dir, streams, key):
    registry.QUERIES[key](spark, sf_dir).collect()
    streams.settle()
    assert spark.conf.get("spark.sql.shuffle.partitions") == DEFAULT
    ops = [op for q in streams.started for op in streams.ops.get(q, ())]
    if key not in EVENTS_SIZED | OWN_COUNT:
        assert not ops, f"{key} runs state it is not sized for: {ops}"
        return
    n = _expected(spark, sf_dir, key)
    assert ops, f"{key} started no stateful stream"
    for name, parts, instances in ops:
        assert parts == n, (key, name, parts, n)
        assert instances == n * STORES_PER_PARTITION.get(name, 1), (key, name, instances, n)


def test_shared_session_keeps_its_default_inside_a_sized_drain(spark, sf_dir, streams):
    """The count given to the helper sizes the stream's state, yet a
    batch running under it sees the shared session's own default."""
    from kinesis_test_spark.streaming.pipeline import drain, read_events_stream, scratch_dir

    k = 3
    shared, own = [], []

    def land(batch_df, _batch_id):
        shared.append(spark.conf.get("spark.sql.shuffle.partitions"))
        own.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # consume every partition: a stateful foreachBatch that leaves a
        # partition unread fails its state-store commit validation
        batch_df.count()

    stream = read_events_stream(spark, sf_dir).dropDuplicates(["event_id"])
    q = drain(stream.writeStream.foreachBatch(land), scratch_dir("sized_drain") / "cp", k)
    streams.settle()
    assert shared and set(shared) == {DEFAULT}, shared
    assert set(own) == {str(k)}, own
    assert streams.ops[str(q.id)] == {("dedupe", k, k)}, streams.ops
