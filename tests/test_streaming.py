"""Streaming-semantics tests beyond oracle parity: arrival-order behaviors
(late-data drop, checkpoint resume) that batch SQL can't express."""

from __future__ import annotations

import pandas as pd

from kinesis_test_spark import registry

registry.load_all()


def test_watermark_drops_late_data(spark, sf_dir):
    """Phase-2 (older than watermark) events must not surface any window
    before the cutoff; the kept rows must undercount the full table."""
    out = registry.QUERIES["s_watermark"](spark, sf_dir).toPandas()
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(out) > 0
    emitted = int(out["n"].sum())
    assert emitted < total  # late slice never counted
    from pyspark.sql import functions as F

    from kinesis_test_spark.sources.tables import normalize_ts

    lo = (
        normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .agg(F.min("ts").alias("lo"))
        .first()["lo"]
    )
    # no finalized window from the pre-cutoff (late) half of the timeline
    assert out["window_start"].min() > pd.Timestamp(lo)


def test_checkpoint_resume_exactly_once(spark, sf_dir):
    """After kill-and-resume, the sink holds each event exactly once."""
    out = registry.QUERIES["s_checkpoint"](spark, sf_dir).toPandas()
    src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(out) == src
    assert out["event_id"].nunique() == src


def test_dedup_removes_replay(spark, sf_dir):
    """Replaying the stream twice yields exactly one copy of each record."""
    out = registry.QUERIES["s_dedup"](spark, sf_dir).toPandas()
    src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(out) == src


def test_sink_layout_matches_reference(spark, sf_dir):
    """The sink must produce the reference's exact partition-dir naming:
    y=YYYY/m=M/d=D/h=H with month/day/hour NOT zero-padded
    (consumer.py:226-232)."""
    import re
    from pathlib import Path

    from kinesis_test_spark.streaming.pipeline import (
        partitioned_json_sink,
        read_events_stream,
        scratch_dir,
    )

    d = scratch_dir("layout_check")
    out = d / "out"
    partitioned_json_sink(read_events_stream(spark, sf_dir), out, d / "cp")
    leaf_dirs = {
        p.relative_to(out).as_posix()
        for p in Path(out).rglob("h=*")
        if p.is_dir()
    }
    assert leaf_dirs, "sink wrote no partition directories"
    pat = re.compile(r"^y=\d{4}/m=\d{1,2}/d=\d{1,2}/h=\d{1,2}$")
    assert all(pat.match(x) for x in leaf_dirs), sorted(leaf_dirs)[:5]
    # non-padded: single-digit components must not carry leading zeros
    assert not any(re.search(r"=(0\d)", x) for x in leaf_dirs), sorted(leaf_dirs)[:5]
    # beside the hour tree, the root holds only the file sink's commit log
    rest = {p.name for p in Path(out).iterdir() if not p.name.startswith("y=")}
    assert rest == {"_spark_metadata"}, sorted(rest)
    # no Hadoop checksum sidecar (.<name>.crc) beside any sink file or any
    # offsets/commits/metadata file of the checkpoint
    sidecars = [p for root in (out, d / "cp") for p in Path(root).rglob(".*.crc")]
    assert not sidecars, sorted(map(str, sidecars))[:5]


def test_replay_with_idempotent_sink_no_duplicates(spark, sf_dir):
    """Exactly-once under failure: after a completed run, delete the last
    batch's commit marker (simulating a crash between sink write and
    commit). The restarted query REPLAYS that batch; because the sink is
    idempotent (per-batch-id overwrite), the output is unchanged — the
    foreachBatch exactly-once contract the reference's lease table never
    achieved (its batch-granularity gate re-emits on partial failure,
    consumer.py:292-303)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    import shutil

    d = scratch_dir("replay_sink")
    stage, sink, cp = d / "src", d / "sink", d / "cp"
    stage_events(spark, sf_dir, stage, "all")

    def run(checkpoint: Path) -> None:
        def write_batch(batch_df, batch_id):
            # idempotent: the batch's output location is keyed by batch_id
            # and overwritten wholesale on replay
            batch_df.write.mode("overwrite").parquet(str(sink / f"batch_id={batch_id}"))

        q = (
            read_staged_stream(spark, sf_dir, stage)
            .select("event_id", "user_id", "event_type")
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", str(checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(cp)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(str(sink)).count()
    assert first == n_src
    # crash simulation: clone the checkpoint as-of "offsets written, commit
    # not yet" (the window where a crash forces a replay) and restart from
    # the clone — exactly a restart after a mid-commit failure
    cp2 = d / "cp_after_crash"
    shutil.copytree(cp, cp2)
    commits = [p for p in (cp2 / "commits").iterdir() if not p.name.startswith(".")]
    max(commits, key=lambda p: int(p.name)).unlink()
    run(cp2)
    again = spark.read.parquet(str(sink)).count()
    assert again == n_src, f"replay duplicated rows: {again} != {n_src}"


def test_partitioned_sink_replay_writes_once(spark, sf_dir):
    """Exactly-once over the partitioned JSON sink: drain two arrivals,
    then restart from a checkpoint that lost its last commit (a crash
    between the sink write and the commit). The restart replays that
    batch, and the sink's ``_spark_metadata`` log already holds it, so
    the Spark read-back still counts each staged row once."""
    import shutil

    from kinesis_test_spark.streaming.pipeline import (
        mod_slice,
        partitioned_json_sink,
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    d = scratch_dir("sink_replay")
    stage, out, cp = d / "src", d / "out", d / "cp"
    for i in range(2):
        stage_events(spark, sf_dir, stage, f"a{i}", where=mod_slice(2, i, "event_id"))

    def run(checkpoint) -> None:
        stream = read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger=1)
        partitioned_json_sink(stream, out, checkpoint)

    run(cp)
    cp2 = d / "cp_after_crash"
    shutil.copytree(cp, cp2)
    commits = [p for p in (cp2 / "commits").iterdir() if not p.name.startswith(".")]
    assert len(commits) == 2
    max(commits, key=lambda p: int(p.name)).unlink()
    run(cp2)
    staged = spark.read.parquet(str(stage))
    back = spark.read.json(str(out))
    assert back.count() == staged.count(), "the replayed batch was written twice"
    assert back.select("event_id").distinct().count() == (
        staged.select("event_id").distinct().count()
    )


def test_reference_chain_runs_dedup_once_per_batch(spark, sf_dir):
    """The reference chain (null-id quarantine → dropDuplicates under
    sized_state → partitioned sink) must execute its stateful dedup once
    per micro-batch: one state-store instance per shuffle partition, and
    each distinct id held once. A sink that runs a second job over the
    batch reads 2x on both, and reloads the store for that second job."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        mod_slice,
        partitioned_json_sink,
        read_staged_stream,
        scratch_dir,
        sized_state,
        stage_events,
        state_partitions_for,
    )

    d = scratch_dir("sink_single_exec")
    stage = d / "src"
    stage_events(spark, sf_dir, stage, "a0", where=mod_slice(2, 0))
    stage_events(spark, sf_dir, stage, "a1", where=mod_slice(2, 1))
    stage_events(spark, sf_dir, stage, "a2", where=mod_slice(2, 0))  # a re-delivery
    stream = (
        read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger=1)
        .filter(F.col("event_id").isNotNull())
        .dropDuplicates(["event_id"])
    )
    with sized_state(spark, state_partitions_for(spark, stage)):
        q = partitioned_json_sink(stream, d / "out", d / "cp")
    assert q.lastProgress["batchId"] == 2
    op = q.lastProgress["stateOperators"][0]
    assert op["numStateStoreInstances"] == op["numShufflePartitions"], op
    ids = (
        spark.read.parquet(str(stage))
        .filter("event_id IS NOT NULL")
        .select("event_id")
        .distinct()
        .count()
    )
    assert op["numRowsTotal"] == ids, op


import pytest


def test_tablelog_sink_crash_mid_batch_exactly_once(spark, sf_dir):
    """End-to-end exactly-once over the commit-log table sink — the
    strongest form of the reference's lease/checkpoint guarantee
    (/root/reference/consumer.py:169-218), which re-emits on partial
    failure. Two crash windows:

    1. INSIDE the batch — the data file lands, the process dies before
       the tablelog commit publishes. The half-landed file must stay
       invisible to every snapshot read; the restarted query replays the
       batch and lands it exactly once.
    2. AFTER the tablelog commit but before the engine's checkpoint
       commit marker — the replayed batch must be a no-op against the
       already-published log (idempotence by batch id)."""
    import shutil
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from kinesis_test_spark.sources.tablelog import (
        batch_committed,
        commit,
        live_files,
    )
    from kinesis_test_spark.streaming.pipeline import (
        mod_slice,
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    d = scratch_dir("tablelog_crash")
    stage, cp, table = d / "src", d / "cp", d / "table"
    table.mkdir(parents=True)
    for i in range(4):
        stage_events(spark, sf_dir, stage, f"slice_{i}", where=mod_slice(4, i))

    sink_id = str(cp)  # per-query identity namespaces the batch counter

    def land(batch_df, batch_id, crash_on=None):
        # replay detection via commit METADATA, never the version file
        # name (a concurrent writer may own that version under CAS)
        if batch_committed(table, batch_id, sink=sink_id):
            return
        name = f"batch_{batch_id}.parquet"
        tmp = table / f"_tmp_{batch_id}"
        batch_df.select("event_id", "user_id", "event_type", "value").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        next(tmp.glob("part-*.parquet")).replace(table / name)
        shutil.rmtree(tmp)
        if batch_id == crash_on:
            raise RuntimeError("injected crash: data file landed, commit not published")
        commit(
            table,
            adds=[name],
            removes=[],
            meta={"batch_id": batch_id, "sink": sink_id},
        )

    def run(sink):
        q = (
            read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger="1")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(cp))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            # a terminated run deregisters asynchronously; the next run
            # trips Spark's concurrent-checkpoint guard if we race it
            q.stop()
            deadline = time.time() + 60
            while q.isActive and time.time() < deadline:
                time.sleep(0.2)

    # window 1: crash between data-file landing and commit publish
    with pytest.raises(StreamingQueryException):
        run(lambda df, bid: land(df, bid, crash_on=1))
    assert (table / "batch_1.parquet").exists()  # half-landed...
    assert str(table / "batch_1.parquet") not in live_files(table)  # ...invisible

    run(land)  # restart: batch 1 replays, lands exactly once

    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    back = spark.read.parquet(*live_files(table))
    assert back.count() == n_src, "crash replay lost or duplicated rows"
    assert back.select("event_id").distinct().count() == n_src

    # window 2: tablelog commit published, checkpoint commit marker lost
    commits = [p for p in (cp / "commits").iterdir() if not p.name.startswith(".")]
    lost = max(commits, key=lambda p: int(p.name))
    lost.unlink()  # the marker has no checksum sidecar to lose with it
    run(land)
    assert spark.read.parquet(*live_files(table)).count() == n_src
    assert len(live_files(table)) == 4  # one commit per batch, no extras


@pytest.mark.parametrize(
    "provider",
    [
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    ],
    ids=["rocksdb", "hdfs"],
)
def test_stateful_count_backend_agnostic(spark, sf_dir, provider):
    """RocksDB is the session default (bounded JVM heap at 100 TB state
    cardinality, kinesis_test_spark/session.py); results must be identical
    on both state backends."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        out = registry.QUERIES["s_stateful_count"](spark, sf_dir).toPandas()
        batch = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .count()
            .toPandas()
        )
        assert len(out) == len(batch)
        assert int(out["n"].sum()) == int(batch["count"].sum())
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_rocksdb_state_survives_restart(spark, sf_dir):
    """Kill-and-resume with stateful aggregation state on RocksDB: run a
    running-count over half the events, stop, deliver the other half, and
    restart from the same checkpoint. The final counts must equal the
    batch truth over the full table — i.e. the first run's state was
    recovered from the RocksDB checkpoint, not recomputed or lost."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    d = scratch_dir("rocksdb_resume")
    stage, sink, cp = d / "src", d / "sink", d / "cp"

    def run() -> None:
        counts = (
            read_staged_stream(spark, sf_dir, stage)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(
                lambda b, _i: b.write.mode("overwrite").parquet(str(sink))
            )
            .option("checkpointLocation", str(cp))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage_events(spark, sf_dir, stage, "first_half", where="user_id % 2 = 0")
    run()
    stage_events(spark, sf_dir, stage, "second_half", where="user_id % 2 = 1")
    run()

    # the checkpoint must actually hold RocksDB artifacts (zip snapshots /
    # changelogs), proving the provider engaged
    state_files = [p.name for p in Path(cp / "state").rglob("*") if p.is_file()]
    assert any(n.endswith((".zip", ".changelog")) for n in state_files), state_files[:10]

    out = spark.read.parquet(str(sink)).toPandas().set_index("user_id")["n"]
    truth = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    assert out.sort_index().equals(truth.sort_index().rename("n"))


def test_rocksdb_snapshot_uploads_and_serves_restart(spark, sf_dir):
    """RocksDB snapshots must upload and serve a restart. With changelog
    checkpointing the maintenance task zips a snapshot every
    ``minDeltasForSnapshot`` commits, and a restart loads the newest one
    and replays only the changelogs after it. A failed upload is swallowed
    (a replaced ``fs.file.impl`` breaks ``FileSystem.getLocal``'s cast):
    SnapshotLastUploaded stays -1 and every restart replays every
    changelog, so load time grows with the stream's age."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        mod_slice,
        read_staged_stream,
        scratch_dir,
        sized_state,
        stage_events,
    )

    store = spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    confs = {
        "spark.sql.streaming.stateStore.maintenanceInterval": "1s",
        "spark.sql.streaming.stateStore.minDeltasForSnapshot": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    d = scratch_dir("rocksdb_snapshot")
    stage, out, cp = d / "src", d / "out", d / "cp"
    n = 12
    for i in range(n):
        stage_events(spark, sf_dir, stage, f"a{i}", where=mod_slice(n, i, "event_id"))

    def drain() -> dict:
        stream = (
            read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger=1)
            .filter(F.col("event_id").isNotNull())
            .dropDuplicates(["event_id"])
        )
        with sized_state(spark, 1):
            q = (
                stream.writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(cp))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return q.lastProgress

    # the JVM's maintenance task keeps the interval it started with:
    # stop it so the next store load restarts it at 1s, and again after
    # the test so later queries get the session's interval back
    store.stop()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        last = drain()
        assert last["batchId"] == n - 1
        metrics = last["stateOperators"][0]["customMetrics"]
        assert metrics["SnapshotLastUploaded.partition_0_default"] >= 0, metrics
        assert list((cp / "state").rglob("*.zip")), "no snapshot in the state dir"

        # restart on a re-delivered arrival: the store loads from a
        # snapshot and still holds every id, so the re-delivery is dropped
        stage_events(spark, sf_dir, stage, "redelivery", where=mod_slice(n, 0, "event_id"))
        last = drain()
        op = last["stateOperators"][0]
        assert last["batchId"] == n
        assert op["customMetrics"]["rocksdbNumReplayChangelogFiles"] < n, op["customMetrics"]
        ids = (
            spark.read.parquet(str(stage))
            .filter("event_id IS NOT NULL")
            .select("event_id")
            .distinct()
            .count()
        )
        assert op["numRowsTotal"] == ids, op
        assert op["numRowsUpdated"] == 0, op
        assert spark.read.parquet(str(out)).count() == ids
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        store.stop()


def test_compaction_preserves_content_and_reduces_files(spark, sf_dir):
    """Small-file compaction over the partitioned sink: same rows, fewer
    files, same partition layout (maintenance.compact_partitioned)."""
    from pathlib import Path

    from kinesis_test_spark.maintenance import compact_partitioned
    from kinesis_test_spark.streaming.pipeline import (
        partitioned_json_sink,
        read_events_stream,
        scratch_dir,
    )

    d = scratch_dir("compaction")
    out = d / "out"
    partitioned_json_sink(read_events_stream(spark, sf_dir), out, d / "cp")
    before = spark.read.option("basePath", str(out)).json(str(out))
    schema = before.schema
    compacted = compact_partitioned(spark, out, schema=schema)
    after = spark.read.schema(schema).option("basePath", str(compacted)).json(str(compacted))
    assert after.count() == before.count()
    n_before = len(list(Path(out).rglob("part-*")))
    n_after = len(list(Path(compacted).rglob("part-*")))
    assert n_after <= n_before
    # identical content, order-insensitive
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0


def test_sink_partition_pruning(spark, sf_dir):
    """A time-predicate read of the y/m/d/h sink must prune partitions at
    plan time (PartitionFilters) — the payoff of the reference's layout
    done as real partition columns."""
    from kinesis_test_spark import plans
    from kinesis_test_spark.streaming.pipeline import (
        partitioned_json_sink,
        read_events_stream,
        scratch_dir,
    )

    d = scratch_dir("pruning")
    out = d / "out"
    partitioned_json_sink(read_events_stream(spark, sf_dir), out, d / "cp")
    back = spark.read.option("basePath", str(out)).json(str(out))
    one_day = back.filter("y = 2024 AND m = 1 AND d = 2")
    plan = plans.formatted(one_day)
    assert "PartitionFilters" in plan
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "y" in line and "m" in line and "d" in line
    assert one_day.count() > 0


def test_batch_quantum_rate_limit(spark, sf_dir):
    """The reference's BATCH_SIZE quantum (consumer.py:255: 1000 records per
    get_records) as source rate limiting: 4 staged files with
    maxFilesPerTrigger=1 must process as 4 micro-batches whose union is
    exactly the input — batch boundaries change, results don't."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    d = scratch_dir("rate_limit")
    stage = d / "src"
    lo, hi = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.min("event_id"), F.max("event_id")
    ).first()
    q1, q2, q3 = (lo + (hi - lo) * k // 4 for k in (1, 2, 3))
    stage_events(spark, sf_dir, stage, "p1", where=f"event_id < {q1}")
    stage_events(spark, sf_dir, stage, "p2", where=f"event_id >= {q1} AND event_id < {q2}")
    stage_events(spark, sf_dir, stage, "p3", where=f"event_id >= {q2} AND event_id < {q3}")
    stage_events(spark, sf_dir, stage, "p4", where=f"event_id >= {q3}")

    seen_batches = []
    sink_rows = []

    def collect_batch(batch_df, batch_id):
        pdf = batch_df.select("event_id").toPandas()
        if len(pdf):
            seen_batches.append(batch_id)
            sink_rows.append(pdf)

    q = (
        read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger="1")
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(d / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) == 4, seen_batches  # one batch per file
    import pandas as pd

    all_ids = pd.concat(sink_rows)["event_id"]
    assert all_ids.nunique() == len(all_ids)
    assert len(all_ids) == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_stream_join_left_watermark_boundary(spark, sf_dir):
    """Adversarial pin for the left-outer stream-stream join's boundary
    semantics (VERDICT r5 #8), on a purpose-built micro stream:

      * a purchase whose ts lands EXACTLY on the join-window limit
        (ts_a + 5 min) must pair — the window is closed ([ts_a, ts_a+5m]);
      * one 1 µs past the limit must NOT pair;
      * unmatched clicks emit their NULL row exactly once, even when the
        watermark advance lands exactly on the eviction boundary
        (advancer at ts_a + window + delay ⇒ watermark == ts_a + window)
        before a second far-future advance closes everything;
      * no (click, purchase) emission ever duplicates across the phased
        drains (the exactly-once contract of checkpoint + parquet sink).
    """
    from datetime import datetime, timedelta
    from pathlib import Path
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from kinesis_test_spark.streaming.pipeline import (
        events_schema,
        local_rows,
        read_staged_stream,
        scratch_dir,
    )

    d = scratch_dir("sjl_boundary")
    stage, out, cp = d / "src", d / "out", d / "cp"
    stage.mkdir(parents=True, exist_ok=True)
    # micro-stream (7 rows): 32 shuffle partitions would mean 4 drains ×
    # per-partition state-store init dominating the test (measured 158 s);
    # 2 partitions exercise identical semantics in ~a third of the time
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        schema = events_schema(spark, sf_dir)
        ts_is_long = isinstance(schema["ts"].dataType, LongType)

        EPOCH = datetime(1970, 1, 1)
        T0_US = 1_717_200_000_000_000  # 2024-06-01 00:00:00 UTC in µs
        MIN_US = 60_000_000

        def ts_val(us: int):
            return us * 1000 if ts_is_long else EPOCH + timedelta(microseconds=us)

        def stage_batch(name, rows):
            tmp = stage.parent / f"_tmp_{name}"
            local_rows(
                spark,
                [(eid, ts_val(us), uid, et, 0.0, "{}") for eid, us, uid, et in rows],
                schema,
            ).coalesce(1).write.mode("overwrite").parquet(str(tmp))
            part = next(Path(tmp).glob("part-*.parquet"))
            shutil.move(str(part), stage / f"{name}.parquet")
            shutil.rmtree(tmp)

        def side(alias_id, etype, uid, ts):
            return (
                read_staged_stream(spark, sf_dir, stage)
                .withWatermark("ts", "10 minutes")
                .filter(F.col("event_type") == etype)
                .select(
                    F.col("event_id").alias(alias_id),
                    F.col("user_id").alias(uid),
                    F.col("ts").alias(ts),
                )
            )

        joined = (
            side("click_id", "click", "user_id", "ts_a")
            .join(
                side("purchase_id", "purchase", "user_id_b", "ts_b"),
                (F.col("user_id") == F.col("user_id_b"))
                & (F.col("ts_b") > F.col("ts_a"))
                & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
                "leftOuter",
            )
            .select("click_id", "purchase_id", "user_id")
        )

        def drain():
            q = (
                joined.writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(cp))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        emissions: list[tuple] = []

        def collect_real():
            rows = spark.read.parquet(str(out)).filter(F.col("click_id") > 0).collect()
            return sorted((r.click_id, r.purchase_id) for r in rows)

        # batch 1: three clicks at T0 (users 1, 2, 3)
        stage_batch(
            "b1",
            [(1001, T0_US, 1, "click"), (1002, T0_US, 2, "click"), (1003, T0_US, 3, "click")],
        )
        drain()
        emissions.append(collect_real())

        # batch 2: u1's purchase EXACTLY at the window limit, u2's 1 µs past it
        stage_batch(
            "b2",
            [
                (2001, T0_US + 5 * MIN_US, 1, "purchase"),
                (2002, T0_US + 5 * MIN_US + 1, 2, "purchase"),
            ],
        )
        drain()
        emissions.append(collect_real())

        # batch 3: advancer pair at T0 + 15 min → watermark lands EXACTLY on
        # the clicks' eviction boundary (T0 + window). Survives the side
        # filters as one click + one purchase with match-nothing users.
        adv = T0_US + 15 * MIN_US
        stage_batch("b3", [(-1, adv, -1, "click"), (-2, adv, -2, "purchase")])
        drain()
        emissions.append(collect_real())

        # batch 4: far-future advance closes every real join window
        far = T0_US + 120 * MIN_US
        stage_batch("b4", [(-3, far, -3, "click"), (-4, far, -4, "purchase")])
        drain()
        final = collect_real()
        emissions.append(final)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # boundary purchase pairs; 1 µs-late one doesn't; NULLs exactly once
    assert final == [(1001, 2001), (1002, None), (1003, None)], final
    # exactly-once at every phase: emissions only ever grow, no duplicates
    for phase in emissions:
        assert len(phase) == len(set(phase)), phase
    for earlier, later in zip(emissions, emissions[1:]):
        assert set(earlier) <= set(later), (earlier, later)


def test_state_ttl_expiry_fences_and_reemits(spark, sf_dir):
    """Boundary pin for s_state_ttl's lease semantics (VERDICT r6 #5), on a
    purpose-built micro stream driving the SAME ttl_session_stream operator
    the registered query runs:

      * a key silent past TTL is closed by WATERMARK-driven timeout (other
        keys' progress expires it — the lease stolen from a dead worker);
      * when the key reappears it re-emits as a NEW session under an
        INCREMENTED lease (the fencing counter survives expiry via the
        grace stub);
      * an in-batch gap > TTL splits sessions without any timeout at all;
      * emissions are exactly-once across the phased drains.
    """
    from datetime import datetime, timedelta
    from pathlib import Path
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from kinesis_test_spark.streaming.pipeline import (
        events_schema,
        local_rows,
        read_staged_stream,
        scratch_dir,
    )
    from kinesis_test_spark.streaming.queries import ttl_session_stream

    d = scratch_dir("ttl_boundary")
    stage, out, cp = d / "src", d / "out", d / "cp"
    stage.mkdir(parents=True, exist_ok=True)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        schema = events_schema(spark, sf_dir)
        ts_is_long = isinstance(schema["ts"].dataType, LongType)

        EPOCH = datetime(1970, 1, 1)
        T0_US = 1_717_200_000_000_000  # 2024-06-01 00:00:00 UTC in µs
        MIN_US = 60_000_000

        def ts_val(us: int):
            return us * 1000 if ts_is_long else EPOCH + timedelta(microseconds=us)

        def stage_batch(name, rows):
            tmp = stage.parent / f"_tmp_{name}"
            local_rows(
                spark,
                [(eid, ts_val(us), uid, "click", 0.0, "{}") for eid, us, uid in rows],
                schema,
            ).coalesce(1).write.mode("overwrite").parquet(str(tmp))
            part = next(Path(tmp).glob("part-*.parquet"))
            shutil.move(str(part), stage / f"{name}.parquet")
            shutil.rmtree(tmp)

        sessions = ttl_session_stream(read_staged_stream(spark, sf_dir, stage))

        def drain():
            q = (
                sessions.writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(cp))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def collect_real():
            rows = spark.read.parquet(str(out)).filter(F.col("user_id") > 0).collect()
            return sorted(
                (r.user_id, r.lease, r.n_events, r.closed_by) for r in rows
            )

        emissions = []
        # b1: u1 active at T0 and T0+1m; u2 has an IN-BATCH gap > TTL
        # (T0 and T0+40m) — the gap split must happen with no timeout help
        stage_batch("b1", [(1, T0_US, 1), (2, T0_US + MIN_US, 1),
                           (3, T0_US, 2), (4, T0_US + 40 * MIN_US, 2)])
        drain()
        emissions.append(collect_real())
        # u2's in-batch split emits immediately; nothing else closed yet
        assert (2, 1, 1, "gap") in emissions[-1], emissions[-1]
        assert not any(r[0] == 1 for r in emissions[-1]), emissions[-1]

        # b2+b3: advancer key -1 pushes the watermark; u1's open session
        # (timeout T0+31m) expires during b3 (watermark = T0+35m from b2).
        # The advance is kept SMALL so the lease stub (GC at expiry + one
        # TTL of grace) is still alive when u1 returns — a bigger jump
        # would GC the stub and legitimately restart the key at lease 1.
        stage_batch("b2", [(90, T0_US + 45 * MIN_US, -1)])
        drain()
        stage_batch("b3", [(91, T0_US + 50 * MIN_US, -1)])
        drain()
        emissions.append(collect_real())
        assert (1, 1, 2, "timeout") in emissions[-1], emissions[-1]

        # b4: u1 REAPPEARS within grace (ts above the current watermark so
        # the rows survive the late filter) — must start lease 2, not 1
        stage_batch("b4", [(5, T0_US + 45 * MIN_US, 1),
                           (6, T0_US + 46 * MIN_US, 1)])
        drain()
        # b5+b6: advancers close u1's second session (and u2's open one)
        stage_batch("b5", [(92, T0_US + 100 * MIN_US, -1)])
        drain()
        stage_batch("b6", [(93, T0_US + 105 * MIN_US, -1)])
        drain()
        final = collect_real()
        emissions.append(final)

        # the reappeared key carries the incremented lease
        assert (1, 2, 2, "timeout") in final, final
        # per-user leases are contiguous from 1 — no skips, no reuse
        for uid in {r[0] for r in final}:
            leases = sorted(r[1] for r in final if r[0] == uid)
            assert leases == list(range(1, len(leases) + 1)), (uid, leases)

        # b7: a LONG silent stretch — the advancer pushes the watermark far
        # past u1's stub GC point (expiry + GRACE), so the fencing stub
        # removes itself without emitting anything.
        stage_batch("b7", [(94, T0_US + 200 * MIN_US, -1)])
        drain()
        assert collect_real() == final, "stub GC must not emit"
        # b8: u1 returns AFTER grace — the counter did not outlive state
        # retention, so the key legitimately restarts at lease 1 (SCALE.md
        # round-7: a counter outliving GC would be an unbounded-keys map).
        stage_batch("b8", [(7, T0_US + 210 * MIN_US, 1)])
        drain()
        stage_batch("b9", [(95, T0_US + 300 * MIN_US, -1)])
        drain()
        stage_batch("b10", [(96, T0_US + 305 * MIN_US, -1)])
        drain()
        final2 = collect_real()
        emissions.append(final2)
        assert (1, 1, 1, "timeout") in final2, final2
        # ...and NOT lease 3: proof the stub was GC'd rather than fenced
        assert not any(r[0] == 1 and r[1] == 3 for r in final2), final2

        # exactly-once: emissions only grow, never duplicate (the lease-1
        # restart row differs from the original lease-1 row by n_events)
        for phase in emissions:
            assert len(phase) == len(set(phase)), phase
        for earlier, later in zip(emissions, emissions[1:]):
            assert set(earlier) <= set(later), (earlier, later)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_events_stream_reads_directory_layout(spark, sf_dir):
    """read_events_stream must drain a DIRECTORY-shaped events.parquet (a
    restaged multi-file layout, bench --restaged) identically to the
    driver fixture's single file. The single-file path streams via
    pathGlobFilter, which matches LEAF names — pointed at a directory it
    silently streams zero rows, which is why the reader dispatches on
    layout (streaming/pipeline.read_events_stream)."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        read_events_stream,
        run_to_memory,
        scratch_dir,
    )

    d = scratch_dir("stream_dir_layout")
    restaged = d / "sf"
    restaged.mkdir(parents=True, exist_ok=True)
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(str(restaged / "events.parquet"))

    counted = (
        read_events_stream(spark, str(restaged))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_to_memory(counted, "dir_layout_n", d / "cp", output_mode="complete")
    n_stream = spark.table("dir_layout_n").collect()[0].n
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_stream == n_batch, (n_stream, n_batch)


def test_two_streaming_sinks_one_table_concurrently(spark, sf_dir):
    """END-TO-END dual-writer: two streaming queries (own sources, own
    checkpoints, own batch counters) land into ONE tablelog table at the
    same time — the scenario the round-9 CAS commit protocol and
    per-sink batch metadata exist for. Asserts: every source row lands
    exactly once (union equality), the log linearizes (contiguous
    versions, each entry's recorded version matches its file name), and
    neither sink's replay detection tripped on the other's batch ids
    (both write a batch 0)."""
    import json as _json
    import shutil
    import time

    from kinesis_test_spark.sources.tablelog import (
        LOG_DIR,
        batch_committed,
        commit,
        live_files,
    )
    from kinesis_test_spark.streaming.pipeline import (
        mod_slice,
        read_staged_stream,
        scratch_dir,
        stage_events,
    )

    d = scratch_dir("tablelog_dual")
    table = d / "table"
    table.mkdir(parents=True)

    def mk_sink(tag: str, half: int):
        stage, cp = d / f"src_{tag}", d / f"cp_{tag}"
        # each sink streams ITS user-half of events, staged as 2 files
        # split by event-id parity (NULL ids ride slice 0 via coalesce)
        for i in range(2):
            stage_events(
                spark, sf_dir, stage, f"s{i}",
                where=f"({mod_slice(2, half)})"
                f" AND pmod(coalesce(event_id, 0), 2) = {i}",
            )
        sink_id = str(cp)

        def land(batch_df, batch_id):
            if batch_committed(table, batch_id, sink=sink_id):
                return
            name = f"{tag}_b{batch_id}.parquet"
            tmp = table / f"_tmp_{tag}_{batch_id}"
            batch_df.select("event_id", "user_id").coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp))
            next(tmp.glob("part-*.parquet")).replace(table / name)
            shutil.rmtree(tmp)
            commit(table, adds=[name], removes=[],
                   meta={"batch_id": batch_id, "sink": sink_id})

        q = (
            read_staged_stream(spark, sf_dir, stage, maxFilesPerTrigger="1")
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(cp))
            .trigger(availableNow=True)
            .start()
        )
        return q

    qa = mk_sink("a", 0)
    qb = mk_sink("b", 1)
    qa.awaitTermination()
    qb.awaitTermination()
    for q in (qa, qb):
        q.stop()
        deadline = time.time() + 60
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)

    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    back = spark.read.parquet(*live_files(table))
    assert back.count() == n_src, "dual-writer lost or duplicated rows"
    # log linearized: contiguous versions, truthful version fields
    names = sorted(p.name for p in (table / LOG_DIR).iterdir())
    assert names == [f"{v:05d}.json" for v in range(len(names))]
    for name in names:
        entry = _json.loads((table / LOG_DIR / name).read_text())
        assert entry["version"] == int(name.split(".")[0])
    # both sinks landed a batch 0 without tripping the other's detection
    metas = [
        _json.loads((table / LOG_DIR / n).read_text()).get("meta", {})
        for n in names
    ]
    zeroes = {m["sink"] for m in metas if m.get("batch_id") == 0}
    assert len(zeroes) == 2


def test_state_partitions_for_lists_through_spark_filesystem(spark, sf_dir):
    """r14 VERDICT #3: state sizing must come from Spark's own (Hadoop)
    file listing, not the driver's local disk — a remote sf_dir
    (hdfs://, s3a://) is invisible to local Path.stat and the old form
    silently collapsed to 1 partition, the wrong direction at 100 TB.
    Pins: the scheme'd URI and the bare path agree (the listing goes
    through Hadoop's FileSystem either way), the byte total is real (a
    1-byte target forces >1 partition), and a missing path raises
    loudly instead of under-sizing."""
    from kinesis_test_spark.streaming.pipeline import state_partitions_for

    path = f"{sf_dir}/events.parquet"
    n_plain = state_partitions_for(spark, path)
    n_uri = state_partitions_for(spark, f"file:{path}")
    assert n_plain == n_uri >= 1
    assert state_partitions_for(spark, path, bytes_per_partition=1) > 1
    with pytest.raises(FileNotFoundError):
        state_partitions_for(spark, f"{sf_dir}/no_such_table.parquet")
