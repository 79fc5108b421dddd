"""Structured Streaming pipeline — the reference's consume loop, Spark-managed.

Reference dataflow (/root/reference/consumer.py:252-320):
    shard iterator → get_records(1000) → JSON decode → checkpoint-gated
    dedup → S3 JSON sink partitioned y=/m=/d=/h= → checkpoint advance.

Engine mapping (SURVEY.md §2A): the whole loop is one streaming query —
    readStream (file source standing in for Kinesis; the connector is a
    format swap) → event-time transforms → writeStream with
    checkpointLocation; offset log + commit log subsume the DynamoDB lease
    table (consumer.py:169-218), and `Trigger.AvailableNow` gives the
    deterministic drain the tests and oracles rely on.

Hermetic source: the driver-generated events parquet, streamed via
`pathGlobFilter` or staged copies under `.scratch/` when a test needs
multi-batch arrival order (late data, restart).
"""

from __future__ import annotations

import shutil
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructField, StructType

from kinesis_test_spark.sources.tables import normalize_ts

SCRATCH_ROOT = Path(__file__).resolve().parent.parent.parent / ".scratch"


def scratch_dir(name: str) -> Path:
    """Fresh per-invocation scratch area (checkpoints, staged sources, sinks).

    Concurrency-safe GC: areas are scoped by pid, and cleanup only removes
    this process's own prior areas plus areas whose owning process is dead.
    (Removing the whole shared base — the pre-round-6 behavior — deleted
    the LIVE staging of another process running the same query, e.g. bench
    and the parity suite hitting s_sink_partitioned concurrently.)"""
    import os

    base = SCRATCH_ROOT / name
    pid = os.getpid()
    if base.exists():
        for prior in base.iterdir():
            owner = prior.name.split("_", 1)[0]
            try:
                owner_alive = owner.isdigit() and _pid_alive(int(owner))
            except ValueError:
                owner_alive = False
            if not owner_alive or int(owner) == pid:
                shutil.rmtree(prior, ignore_errors=True)
    d = base / f"{pid}_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    return d


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """File-source streams need an explicit schema (no inference at runtime).
    ts arrives in whatever raw encoding the fixture carries (long nanos or
    TIMESTAMP_NTZ micros — see sources/tables.normalize_ts); staged copies
    preserve it, and the stream readers normalize after the scan."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return StructType([StructField(f.name, f.dataType, f.nullable) for f in schema])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded read over the events table (reference get_iterator +
    get_records, consumer.py:92-130). `startingPosition=TRIM_HORIZON`
    maps to a file source consuming the directory from the beginning.

    Layout-adaptive: the driver fixture is a single FILE named
    events.parquet (streamed via pathGlobFilter over sf_dir), but a
    restaged dir (bench --restaged, partition-invariance tests) carries a
    DIRECTORY of part files under the same name — pathGlobFilter matches
    leaf-file names, so it would silently stream zero rows there."""
    events_path = Path(sf_dir) / "events.parquet"
    reader = spark.readStream.schema(events_schema(spark, sf_dir))
    if events_path.is_dir():
        raw = reader.parquet(str(events_path))
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_ts(raw)


def read_staged_stream(spark: SparkSession, sf_dir: str, stage: Path, **options) -> DataFrame:
    """Stream from a staged directory the test controls file-by-file
    (arrival-order experiments: duplicates, late data, restart)."""
    raw = spark.readStream.schema(events_schema(spark, sf_dir)).options(**options).parquet(
        str(stage)
    )
    return normalize_ts(raw)


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny driver-local relation in ONE partition.

    ``createDataFrame(list, schema)`` pickles the rows into
    ``defaultParallelism`` Python partitions (32 here), so every action
    over a handful of staged rows pays 32 Python-worker tasks — measured
    0.8 s per action on a quiet session and 3–9 s inside a streaming
    drain (guide §4: the boundary cost is per TASK, not per row). A
    1-slice RDD keeps the identical row-verification/conversion path
    (``_createFromRDD``) at one task. For local literals only — never a
    query-path relation."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def land_arrival(df: DataFrame, stage: Path, name: str) -> None:
    """Land a DataFrame in the staged source dir as ONE parquet file —
    one 'batch arrival' from the source's perspective."""
    tmp = stage.parent / f"_tmp_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(Path(tmp).glob("part-*.parquet"))
    stage.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), stage / f"{name}.parquet")
    shutil.rmtree(tmp)


def stage_events(spark: SparkSession, sf_dir: str, stage: Path, name: str, where: str | None = None) -> None:
    """Copy (a filtered slice of) events into the staged source dir as one
    parquet file — one 'batch arrival' from the source's perspective."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if where:
        df = df.filter(where)
    land_arrival(df, stage, name)


def post_epoch(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Quarantine pre-epoch event times out of a WATERMARKED stream —
    explicitly and symmetrically (oracle mirror: ``POST_EPOCH_SQL``).

    Spark's event-time watermark starts at the epoch and never goes
    below it, so rows with ts <= 1970-01-01 are silently treated as late
    in the very first micro-batch of watermark-consuming operators
    (dropDuplicatesWithinWatermark drops ts <= epoch outright;
    applyInPandasWithState and stream-stream joins drop ts < epoch —
    probed in tests/test_edge_ts_extremes.py). The engine cannot admit
    them, so the contract states the drop: the event-time domain of a
    watermarked stream is strictly post-epoch, filtered identically on
    both engines rather than lost to an operator-specific boundary."""
    return df.filter(F.unix_micros(F.col(ts_col)) > 0)


# DuckDB mirror of ``post_epoch`` for oracle WHERE clauses; format with
# the aliased column when the oracle joins the table to itself.
POST_EPOCH_SQL = "epoch_us({col}) > 0"


def mod_slice(n: int, i: int, col: str = "user_id") -> str:
    """Null-safe staging predicate for slice ``i`` of ``n``: modulo slices
    must PARTITION the input, but a NULL key fails every `% n = i` test —
    the classic silent-loss bug in partitioned backfills (probe_nulls
    class 3). Slice 0 carries the NULL-key rows explicitly. pmod, not %:
    Spark's % keeps the dividend's sign, so a negative key would fail
    every `% n = i` test and drop silently — same bug, different door."""
    base = f"pmod({col}, {n}) = {i}"
    return f"{base} OR {col} IS NULL" if i == 0 else base


def stage_far_future_sentinels(
    spark: SparkSession,
    sf_dir: str,
    stage: Path,
    name: str,
    hours_ahead: int,
    keys: list[tuple[int, int, str]],
    max_ts=None,
) -> None:
    """Stage watermark-advancer rows with a far-future ts in the RAW
    fixture domain (long nanos or naive datetime — whichever encoding the
    current events parquet uses; see sources/tables.normalize_ts). `keys`
    is a list of (event_id, user_id, event_type); sentinel rows carry
    value 0.0 and an empty payload and are dropped by consumers on batch
    read-back. AvailableNow drains need these because a watermark only
    advances on later ARRIVALS — a filter cannot push time forward.
    Pass `max_ts` (the raw-domain max of events.ts) to skip the lookup
    when staging several sentinel batches."""
    if max_ts is None:
        max_ts = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .agg(F.max("ts"))
            .first()[0]
        )
    if isinstance(max_ts, int):  # long nanos encoding
        far = int(max_ts) + hours_ahead * 3_600_000_000_000
    else:  # naive datetime (micros-NTZ encoding)
        from datetime import timedelta

        far = max_ts + timedelta(hours=hours_ahead)
    rows = [(eid, far, uid, etype, 0.0, "{}") for eid, uid, etype in keys]
    land_arrival(
        local_rows(spark, rows, events_schema(spark, sf_dir)),
        stage,
        name,
    )


def state_partitions_for(
    spark: SparkSession,
    path: Path | str,
    bytes_per_partition: int = 64 << 20,
) -> int:
    """State-store partition count derived from the INPUT VOLUME a
    stateful stream will consume — every state partition is a live store
    instance (RocksDB here) paying open/commit/changelog per micro-batch,
    and the count locks in at the first batch forever. Sizing it to the
    data instead of the session's core count is the difference between a
    6 MB fixture paying 32 idle RocksDB instances (measured 3-5 s/batch
    of pure commit machinery on s_ingest — 5 state rows!) and a 100 TB
    stream deriving the thousands of partitions its state actually
    needs. ``path`` may be a file or a directory of part files, on ANY
    filesystem Spark itself can read (file:, hdfs://, s3a://, ...): the
    volume comes from Hadoop's FileSystem listing, not the driver's
    local disk (r14 VERDICT #3 — the local ``Path.stat`` form silently
    returned 1 partition for a remote ``sf_dir``, the wrong direction at
    100 TB). A path that does not exist raises instead of under-sizing."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(str(path))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"state_partitions_for: input path does not exist on its "
            f"filesystem: {path}"
        )
    total = fs.getContentSummary(hpath).getLength()
    return max(1, -(-total // bytes_per_partition))


@contextmanager
def sized_state(spark: SparkSession, n_partitions: int):
    """Set spark.sql.shuffle.partitions around a streaming START and
    restore it.

    The stream plans its micro-batches in its own clone of the session,
    taken when the query starts, and the first batch locks the count into
    the checkpoint. So the conf only has to hold across ``.start()``: a
    stateful operator started inside gets ``n_partitions`` state stores,
    while the shared session reads its own default again by the time any
    batch runs. ``start_stream`` is the one caller in the engine.

    The session-global conf is still changed while ``.start()`` runs: a
    query planned from another thread on the same SparkSession at that
    moment inherits the count. A caller that needs that concurrency must
    scope the conf via a cloned session (spark.newSession()) instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def start_stream(
    writer: DataStreamWriter, checkpoint: Path, state_partitions: int | None = None
) -> StreamingQuery:
    """Start a configured stream (memory, parquet, json or foreachBatch
    sink) on ``checkpoint``: the start half of ``drain``, for the callers
    that drive their own triggers with ``processAllAvailable``.

    ``state_partitions`` (stateful streams): the state-store partition
    count, held by ``sized_state`` across ``.start()`` only. Every state
    partition is a live store instance (RocksDB) paying
    open/commit/changelog per micro-batch, and the count locks into the
    checkpoint at the first batch. Callers derive it from the input
    volume (``state_partitions_for``), never from the session's core
    count — see the r14 s_ingest measurement (3-5 s/batch of pure commit
    machinery for 5 state rows at the 32-core default)."""
    writer = writer.option("checkpointLocation", str(checkpoint))
    if state_partitions is None:
        return writer.start()
    with sized_state(writer._spark, state_partitions):
        return writer.start()


def drain(
    writer: DataStreamWriter, checkpoint: Path, state_partitions: int | None = None
) -> StreamingQuery:
    """Run a configured stream to completion: AvailableNow trigger, start
    through ``start_stream`` and await termination. Returns the drained
    query. Every engine stream starts here or in ``start_stream``."""
    q = start_stream(writer.trigger(availableNow=True), checkpoint, state_partitions)
    q.awaitTermination()
    return q


def run_to_memory(
    df: DataFrame,
    name: str,
    checkpoint: Path,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream into the in-memory sink table ``name`` and return
    that table. ``state_partitions`` as in ``start_stream``."""
    drain(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        checkpoint,
        state_partitions,
    )
    return df.sparkSession.table(name)


# The per-hour row counts of partitioned_json_sink's y/m/d/h layout: the
# oracle of every key that reads the sink (or its compacted copy) back.
SQL_HOURLY_COUNTS = """
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       COUNT(*) AS n
FROM events GROUP BY 1, 2, 3, 4
"""


def partitioned_json_sink(
    df: DataFrame, out_dir: Path, checkpoint: Path, state_partitions: int | None = None
) -> StreamingQuery:
    """The reference's S3 sink (consumer.py:221-249): event-time partitioned
    JSON, y/m/d/h, as Spark's own streaming file sink. Spark task-attempt
    files replace the uuid object names. Returns the drained query.

    One job per micro-batch: the upstream plan (a stateful dedup included)
    runs once, straight into the writer. The keyed repartition clusters
    each hour's rows into one task — without it every upstream task writes
    a file into every hour dir. Its writer count is the stream's
    shuffle-partition count, locked into the checkpoint at the first
    batch: ``state_partitions`` (the input-volume count of a stateful
    upstream, see ``start_stream``) when given, otherwise the session's
    count when the stream starts.

    Exactly-once: the sink logs each committed batch's files under
    ``out_dir/_spark_metadata`` and skips a batch it has already
    committed when a restart replays it. Read the output through Spark,
    which lists files from that log; a raw listing of part files can
    include orphans from a crashed attempt."""
    partitioned = (
        df.select(
            "*",
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
        )
        .withColumn("ts", F.col("ts").cast("string"))
        .repartition("y", "m", "d", "h")
    )
    return drain(
        partitioned.writeStream.format("json")
        .partitionBy("y", "m", "d", "h")
        .option("path", str(out_dir)),
        checkpoint,
        state_partitions,
    )
