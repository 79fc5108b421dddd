"""SparkSession factory.

Scale posture: these configs are the local[N] analogue of a 1000-executor
cluster setup — AQE for runtime re-planning (partition coalescing, skew-join
splitting), Arrow for any Python exchange, UTC to keep event-time semantics
deterministic, and shuffle partitions sized to the parallelism actually
available instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def sql_confs(parallelism: int) -> dict[str, str]:
    """The engine's runtime SQL settings, one place for every session:
    get_spark builds with them and the driver-contract wrappers
    (__spark_entry__.entry / queries) apply them to whatever session they
    are handed, so both plan alike.

    AQE is on so runtime statistics can re-plan joins (broadcast demotion/
    promotion, skew splitting) — at 100 TB that, not static tuning, is what
    keeps shuffle stages healthy. Shuffle partitions match the session's
    parallelism instead of the 200 default.
    """
    return {
        "spark.sql.shuffle.partitions": str(parallelism),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # timestamps must render identically to DuckDB's tz-naive reads
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
        # type — read as long and convert in sources.tables (µs truncation,
        # matching DuckDB/Arrow semantics).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Stream checkpoints (offsets, commits, source/sink logs, RocksDB
        # changelogs and snapshots) go through the cached FileSystem that
        # _raw_local_io configures: temp file, target-absent check, rename.
        # Without native libhadoop every local metadata call forks a
        # process, and the default FileContext manager routes file:
        # through LocalFs (ChecksumFs): a .crc sidecar per checkpoint file
        # and a `readlink` fork per rename. The perfbench stream_ref drain
        # (4-CPU VM) measured 82 process starts per micro-batch with it,
        # 27 (all `chmod`s of new files and dirs) with this manager -- a
        # per-trigger cost that never amortizes. The rename is safe under
        # Spark's single-writer rule per checkpoint; on hdfs:// a
        # FileSystem rename is atomic too.
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # RocksDB state store as the streaming default: state lives off-heap
        # and spills to disk, so stateful queries (dedup gate, session
        # windows, running counts) survive 100 TB-scale key cardinality that
        # would OOM the HDFS-backed in-memory store. Maintenance uploads
        # changelogs instead of full snapshots.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def apply_sql_confs(spark: SparkSession) -> None:
    """Set sql_confs on a session built elsewhere, sized to its own
    defaultParallelism."""
    for key, value in sql_confs(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(key, value)


def driver_memory() -> str:
    """The driver heap get_spark asks for: ``SPARK_GRAFT_DRIVER_MEM`` if
    set, else half the host's physical memory (MemTotal on Linux). In
    local mode the driver heap is also every executor's heap, and RocksDB
    state, Arrow buffers, Python workers and the OS live outside it: a
    fixed 16g on a 15 GB host let one full test run be killed part way."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 >> 20}m"


def get_spark(app_name: str = "kinesis_test_spark") -> SparkSession:
    """Build (or fetch) the engine session: local[cpus()] with sql_confs."""
    n = cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config(map=sql_confs(n))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _raw_local_io(spark)
    return spark


def _raw_local_io(spark: SparkSession) -> None:
    """Turn off checksum sidecars on the JVM's cached local FileSystem.

    Every file: path resolves to this one cached ``LocalFileSystem``, so
    sink files and checkpoint files land without a ``.crc`` beside them
    (each sidecar is one more create, and each create forks a ``chmod``
    when libhadoop is absent). The scheme's class stays the default
    ``LocalFileSystem``: replacing it via ``fs.file.impl`` breaks
    ``FileSystem.getLocal``'s cast, and with it every RocksDB snapshot
    upload. Scheme-scoped: hdfs:// and s3a:// keep their own integrity
    checks, as parquet keeps its column CRCs.
    """
    sc = spark.sparkContext
    local = sc._jvm.org.apache.hadoop.fs.FileSystem.getLocal(sc._jsc.hadoopConfiguration())
    local.setWriteChecksum(False)
    local.setVerifyChecksum(False)
