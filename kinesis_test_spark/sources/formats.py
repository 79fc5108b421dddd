"""Source/sink format round-trips beyond parquet.

The reference's only formats are Kinesis-record JSON in and S3 JSON out
(consumer.py:123,241). The engine's sources are pluggable Spark readers;
these queries prove CSV and ORC round-trip the events table bit-exactly
(write to scratch → read back with explicit schema → aggregate), so a user
can land data in any of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_test_spark.functions.exact import dsum, sql_dsum
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t
from kinesis_test_spark.streaming.pipeline import SQL_HOURLY_COUNTS

_ORACLE = f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)},
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
"""


def _land_single(df: DataFrame, dest) -> None:
    """Staging rig: write a DataFrame as ONE named parquet file (the
    commit-log table rigs fabricate per-batch objects this way). Writes to
    a sibling tmp dir, renames the part file into place, removes the tmp —
    the single landing implementation every table rig shares."""
    import shutil

    tmp = dest.parent / f"_tmp_{dest.name}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    next(tmp.glob("part-*.parquet")).rename(dest)
    shutil.rmtree(tmp)


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value", "sum_value", 18, 6),
        F.sum("user_id").alias("sum_users"),
    )


def _events_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")


@query("q_source_csv", oracle=_ORACLE)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header) → schema'd read-back → aggregate. Floats
    round-trip via Spark's shortest-repr formatting."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("src_csv")
    _events_typed(spark, sf_dir).write.option("header", True).csv(str(d / "csv"))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(str(d / "csv"))
    return _agg(back)


@query("q_source_orc", oracle=_ORACLE)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read-back → aggregate (columnar alternative sink)."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("src_orc")
    _events_typed(spark, sf_dir).write.orc(str(d / "orc"))
    return _agg(spark.read.orc(str(d / "orc")))


def _pysource_oracle() -> str:
    from kinesis_test_spark.functions.porthash import sql_hex16

    hu = sql_hex16("'u|' || CAST(i AS VARCHAR)")
    ht = sql_hex16("'t|' || CAST(i AS VARCHAR)")
    hv = sql_hex16("'v|' || CAST(i AS VARCHAR)")
    return f"""
SELECT CAST(i AS BIGINT) AS row_id,
       CAST(i // 250 AS INT) AS shard_id,
       CAST({hu} % 50 AS BIGINT) AS user_id,
       (['click','purchase','error','signup','view'])[{ht} % 5 + 1] AS event_type,
       {hv} / 65536.0 AS value
FROM (SELECT unnest(generate_series(0, 999)) AS i)
"""


@query("q_source_python", oracle=_pysource_oracle())
def q_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API): the source plans its own
    partitions (Kinesis-shard style) and each reads on an executor. Content
    is a pure function of row id via the portable hash, so even a custom
    source is oracle-checked value-for-value."""
    from kinesis_test_spark.sources import pysource

    pysource.register(spark)
    return spark.read.format("clickstream_synth").load()


@query("q_maintenance_compact", oracle=SQL_HOURLY_COUNTS)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance path as a first-class operator: build the y/m/d/h
    partitioned sink, compact it (one file per partition), read the
    COMPACTED copy back — contents must still equal the batch truth.
    (The reference accretes one object per batch forever,
    consumer.py:235-249; this is the job that cleans that up.)"""
    from kinesis_test_spark.maintenance import compact_partitioned
    from kinesis_test_spark.streaming.pipeline import (
        partitioned_json_sink,
        read_events_stream,
        scratch_dir,
    )

    d = scratch_dir("q_compact")
    out = d / "out"
    partitioned_json_sink(read_events_stream(spark, sf_dir), out, d / "cp")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("m", T.IntegerType()),
            T.StructField("d", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
        ]
    )
    compacted = compact_partitioned(spark, out, schema=schema)
    back = spark.read.schema(schema).option("basePath", str(compacted)).json(str(compacted))
    return back.groupBy("y", "m", "d", "h").agg(F.count("*").alias("n"))


def spark_avro_available() -> bool:
    """True when the spark-avro connector jar is on the classpath.

    Spark ships Avro as an *external* module: the core avro-*.jar files are
    bundled but ``format("avro")`` needs spark-avro_2.13. This build has no
    network to fetch it, so the Avro round-trip registers only when the jar
    is present (drop it into pyspark/jars or point SPARK_AVRO_JAR at it) —
    a documented skip otherwise, never a silent stub."""
    import glob
    import os

    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "*spark-avro*.jar"))
    env = os.environ.get("SPARK_AVRO_JAR")
    if env and os.path.exists(env):
        jars.append(env)
    return bool(jars)


if spark_avro_available():

    @query("q_source_avro", oracle=_ORACLE)
    def q_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
        """events → Avro → read-back → aggregate (row-oriented wire format —
        the schema'd sibling of the reference's JSON records)."""
        from kinesis_test_spark.streaming.pipeline import scratch_dir

        d = scratch_dir("src_avro")
        _events_typed(spark, sf_dir).write.format("avro").save(str(d / "avro"))
        return _agg(spark.read.format("avro").load(str(d / "avro")))


@query(
    "q_schema_evolve",
    oracle="""
SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS value_v2, 'v1' AS ver
FROM events WHERE ((user_id % 2) + 2) % 2 = 0 OR user_id IS NULL
UNION ALL
SELECT event_id, user_id, event_type, value AS value_v2, 'v2' AS ver
FROM events WHERE ((user_id % 2) + 2) % 2 = 1
""",
)
def q_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingest: batch 1 lands events without the later-added
    ``value_v2`` column, batch 2 lands with it; a mergeSchema read unions
    the two file schemas and back-fills NULL for pre-evolution rows — the
    drift case real pipelines hit constantly.

    Scale note: mergeSchema reads every file footer at planning time — fine
    for a bounded evolution window, wrong as a steady state. At 100 TB keep
    an explicit table schema (or a table format that tracks evolution) and
    use mergeSchema only to RECONCILE, as here."""
    from kinesis_test_spark.streaming.pipeline import mod_slice, scratch_dir

    d = scratch_dir("schema_evolve")
    ev = _events_typed(spark, sf_dir)
    # mod_slice: the two batches must PARTITION the input (probe_nulls
    # class 3 — NULL and negative user_ids must land in exactly one slice)
    ev.filter(mod_slice(2, 0)).select(
        "event_id", "user_id", "event_type", F.lit("v1").alias("ver")
    ).write.parquet(str(d / "pq" / "batch=1"))
    ev.filter(mod_slice(2, 1)).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").alias("value_v2"),
        F.lit("v2").alias("ver"),
    ).write.parquet(str(d / "pq" / "batch=2"))
    back = spark.read.option("mergeSchema", True).parquet(str(d / "pq"))
    return back.select("event_id", "user_id", "event_type", "value_v2", "ver")


@query(
    "q_source_csv_permissive",
    oracle="""
SELECT COUNT(*) AS n_clean, CAST(3 AS BIGINT) AS n_corrupt FROM events
""",
)
def q_source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest: three malformed lines are planted in the
    staged wire; they must land in _corrupt_record (counted) while every
    clean row parses — the same crash-proof decode stance as the JSON path
    (the reference dies on its first malformed record, consumer.py:123)."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("src_csv_perm")
    csv_dir = d / "csv"
    _events_typed(spark, sf_dir).write.option("header", False).csv(str(csv_dir))
    bad = csv_dir / "part-bad.csv"
    bad.write_text("not,enough\ntoo,many,columns,here,extra,fields\ngarbage~~~line\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(csv_dir))
    )
    # Spark refuses queries touching ONLY _corrupt_record on a raw scan
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    # documented pattern is to materialize first
    back = back.cache()
    try:
        return back.agg(
            F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_clean"),
            F.count(F.col("_corrupt_record")).alias("n_corrupt"),
        )
    finally:
        pass  # driver collects lazily; cache is released with the session


@query(
    "q_source_resilient",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_source_resilient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a garbage .parquet file is planted next to
    the real ones; with spark.sql.files.ignoreCorruptFiles the scan skips
    it and every clean row still lands — the posture a 100 TB lake needs
    (one torn upload must not kill the nightly job; pair with a manifest
    audit like q_text_shard_export's to notice the loss)."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("src_resilient")
    pq = d / "pq"
    _events_typed(spark, sf_dir).withColumn(
        "event_type", F.col("event_type")
    ).write.parquet(str(pq))
    (pq / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a parquet file")
    # per-read option (not the session conf) so the tolerance is baked into
    # THIS plan and evaluated with it — session state stays untouched
    back = spark.read.option("ignoreCorruptFiles", "true").parquet(str(pq))
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "q_sink_python",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_sink_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSink (Spark 4 DataSource writer API): events leave
    through a user-defined partition-parallel JSONL writer (task-unique
    file + commit message — the same commit protocol a real object-store
    sink implements), then the written files are read back and aggregated
    against the source truth. Completes the Python DataSource story:
    batch read (q_source_python), streaming read (s_python_source), and
    now the write side."""
    from kinesis_test_spark.sources import pysource
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    pysource.register_sink(spark)
    d = scratch_dir("py_sink")
    out = d / "jsonl"
    ev = _events_typed(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    ev.write.format("jsonl_sink").option("path", str(out)).mode("append").save()
    # explicit schema: an empty write leaves nothing to infer from
    # (edge_empty corpus) and inference double-scans anyway
    back = spark.read.schema("event_id bigint, user_id bigint, event_type string").json(
        str(out)
    )
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@query("q_source_avro_py", oracle=_ORACLE)
def q_source_avro_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro ingest WITHOUT the spark-avro jar: a pure-Python Object
    Container File codec (sources/avro_py.py — public Avro 1.x wire
    format, golden-byte-pinned) staged as 4 files, then read DISTRIBUTED:
    binaryFile scan → per-file parse inside Arrow-batched mapInPandas →
    typed rows → aggregate. Files are the parallelism unit, exactly how
    any container format splits under a file source; at 100 TB the same
    plan fans out one parse task per object. The jar-backed
    `q_source_avro` stays conditional on its jar; this path removes the
    environment dependency for the flat-record schemas event streams
    actually use."""
    from collections.abc import Iterator

    import pandas as pd

    from kinesis_test_spark.sources.avro_py import (
        EVENT_SCHEMA,
        exact_records,
        read_container,
        write_container,
    )
    from kinesis_test_spark.streaming.pipeline import mod_slice, scratch_dir

    d = scratch_dir("src_avro_py")
    src = _events_typed(spark, sf_dir)
    for i in range(4):  # staging rig: 4 container files = 4 read tasks
        part = src.filter(mod_slice(4, i))
        (d / f"events_{i}.avro").write_bytes(
            write_container(exact_records(part), EVENT_SCHEMA)
        )
    binfiles = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(str(d))
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                _, recs = read_container(bytes(content))
                yield pd.DataFrame(
                    recs, columns=["event_id", "user_id", "event_type", "value"]
                )

    back = binfiles.select("content").mapInPandas(
        parse,
        "event_id long, user_id long, event_type string, value double",
    )
    return _agg(back)


def _stage_logged_table(spark: SparkSession, sf_dir: str):
    """Shared rig for the commit-log table queries: v0 lands events as 3
    files, v1 compacts two of them (no semantic change), v2 deletes
    user_id % 7 == 0 by rewriting the files that contain them.

    NULL semantics (probe_nulls class 3): the v0 slices must PARTITION the
    source (mod_slice — slice 0 is null-inclusive, pmod keeps negative
    keys in-range), and the v2 delete follows SQL DELETE semantics: rows
    where the predicate is NULL are NOT deleted, so the rewrite keeps
    them explicitly."""
    from kinesis_test_spark.sources.tablelog import commit
    from kinesis_test_spark.streaming.pipeline import mod_slice, scratch_dir

    d = scratch_dir("tablelog")
    src = _events_typed(spark, sf_dir)

    def land(df, name):
        _land_single(df, d / name)

    for i in range(3):  # v0: initial load, 3 data files
        land(src.filter(mod_slice(3, i)), f"f{i}.parquet")
    commit(d, adds=["f0.parquet", "f1.parquet", "f2.parquet"], removes=[])
    # v1: compact f0+f1 into one file — same rows, fewer files
    land(
        spark.read.parquet(str(d / "f0.parquet"), str(d / "f1.parquet")),
        "c01.parquet",
    )
    commit(d, adds=["c01.parquet"], removes=["f0.parquet", "f1.parquet"])
    # v2: delete user_id % 7 == 0 by rewriting both live files
    keep = (F.col("user_id") % 7 != 0) | F.col("user_id").isNull()
    for name, new in (("c01.parquet", "c01_d.parquet"), ("f2.parquet", "f2_d.parquet")):
        land(spark.read.parquet(str(d / name)).filter(keep), new)
    commit(
        d,
        adds=["c01_d.parquet", "f2_d.parquet"],
        removes=["c01.parquet", "f2.parquet"],
    )
    # an orphan data file with NO commit: must stay invisible to any read
    land(src.limit(50), "orphan.parquet")
    return d


@query(
    "q_table_snapshot",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)},
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events WHERE user_id % 7 <> 0 OR user_id IS NULL GROUP BY event_type
""",
)
def q_table_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log table, latest snapshot (sources/tablelog.py — Iceberg/
    Delta mechanics without the env-blocked jar): the read replays the
    metadata log and scans EXACTLY the live files — the v2 delete is
    visible, the pre-compaction files and an uncommitted orphan file are
    not. Metadata replay is driver-side and metadata-sized (the real
    formats' design point); the scan itself is an ordinary distributed
    parquet read over the resolved file list."""
    from kinesis_test_spark.sources.tablelog import live_files

    d = _stage_logged_table(spark, sf_dir)
    return _agg(spark.read.parquet(*live_files(d)))


@query(
    "q_table_time_travel",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)},
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
""",
)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the commit-log table: reading version 0 replays only
    the log prefix, so the v2 delete has not happened yet and the full
    initial load is visible — byte-for-byte the pre-delete answer. Storage
    is append-only (deletes are rewrites in LATER commits), which is what
    makes historical versions free to serve."""
    from kinesis_test_spark.sources.tablelog import live_files

    d = _stage_logged_table(spark, sf_dir)
    return _agg(spark.read.parquet(*live_files(d, version=0)))


@query(
    "q_table_diff",
    oracle="""
SELECT event_type, 'removed' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE user_id IS NOT NULL AND user_id % 7 = 0
GROUP BY event_type
""",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC read) on the commit-log table: the net row-level
    changes between version 0 and the latest version, computed as two
    multiset differences (exceptAll both directions) over the versioned
    reads — the change-data-feed capability Delta/Iceberg expose, served
    from the same append-only storage that makes time travel free. On
    this log the v1 compaction is semantically invisible (the diff must
    NOT report rewritten-but-identical rows — exceptAll is multiset, so
    relocated rows cancel) and the v2 delete surfaces as 'removed' rows
    exactly; the oracle states the expected change set analytically from
    the delete predicate (SQL DELETE semantics: NULL-predicate rows were
    kept, and % is sign-preserving in both engines so negative keys
    divisible by 7 are removed too). At scale both sides of the diff are
    ordinary distributed scans of the two file lists; real formats
    shortcut this with per-commit add/remove manifests — the semantics
    pinned here are what that shortcut must reproduce."""
    from kinesis_test_spark.sources.tablelog import live_files

    d = _stage_logged_table(spark, sf_dir)
    v0 = spark.read.parquet(*live_files(d, version=0))
    v_latest = spark.read.parquet(*live_files(d))
    removed = v0.exceptAll(v_latest).select("event_type", F.lit("removed").alias("op"))
    added = v_latest.exceptAll(v0).select("event_type", F.lit("added").alias("op"))
    return (
        removed.unionByName(added)
        .groupBy("event_type", "op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "q_source_avro_resilient",
    oracle="""
SELECT 'rows' AS metric, CAST(COUNT(*) AS BIGINT) AS n FROM events
  WHERE ((user_id % 4) + 4) % 4 <> 1 OR user_id IS NULL
UNION ALL
SELECT 'bad_files' AS metric, CAST(1 AS BIGINT) AS n
ORDER BY metric
""",
)
def q_source_avro_resilient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resilient Avro ingest: one of four staged containers is corrupted
    mid-stream (flipped byte past the header). The decoder's totality
    contract (any malformed input → ValueError, fuzz-pinned in
    tests/test_codec_fuzz.py) lets the parse step QUARANTINE the bad
    object and keep the task alive — the job lands every good record plus
    a bad-file count, instead of dying on the first poison object (the
    behavior the reference's raw consumer loop would have,
    consumer.py:255-276, and the Avro sibling of q_source_resilient's
    corrupt-JSON path)."""
    from collections.abc import Iterator

    import pandas as pd

    from kinesis_test_spark.sources.avro_py import (
        EVENT_SCHEMA,
        exact_records,
        read_container,
        write_container,
    )
    from kinesis_test_spark.streaming.pipeline import mod_slice, scratch_dir

    d = scratch_dir("src_avro_res")
    src = _events_typed(spark, sf_dir)
    for i in range(4):  # staging rig only — the operator under test is the READ
        part = src.filter(mod_slice(4, i))
        buf = write_container(exact_records(part), EVENT_SCHEMA)
        if i == 1:  # poison one container: truncate mid-block (a partial
            # upload — structurally fatal at any size, unlike a bit flip
            # which can land in a value byte and decode silently)
            buf = buf[: len(buf) - 24]
        (d / f"events_{i}.avro").write_bytes(buf)
    binfiles = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(str(d))
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                try:
                    _, recs = read_container(bytes(content))
                except ValueError:
                    yield pd.DataFrame({"metric": ["bad_files"], "n": [1]})
                    continue
                yield pd.DataFrame({"metric": ["rows"], "n": [len(recs)]})

    counts = binfiles.select("content").mapInPandas(parse, "metric string, n long")
    return (
        counts.groupBy("metric")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy("metric")
    )


GDPR_TARGET_USER = 7


@query(
    "q_table_gdpr",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)},
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events WHERE user_id <> {GDPR_TARGET_USER} OR user_id IS NULL
GROUP BY event_type
""",
)
def q_table_gdpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten delete with METADATA-ONLY file pruning: the
    table lands as 4 user-range files whose [min, max] user_id stats
    travel in the commit (the Iceberg manifest design,
    sources/tablelog.py). Deleting one user consults ONLY the stats —
    files whose range excludes the target are never opened, never
    rewritten (asserted: exactly one file is replaced; a stats-less
    format rewrites or at least scans everything). The affected file is
    rewritten without the user and swapped in one atomic commit, so
    readers see pre- or post-delete, never a torn state. At 100 TB this
    is the difference between touching one partition and a full-table
    rewrite per erasure request."""
    from kinesis_test_spark.sources.tablelog import (
        commit,
        files_maybe_containing,
        live_files,
    )
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("table_gdpr")
    src = _events_typed(spark, sf_dir)
    bounds = src.agg(F.min("user_id"), F.max("user_id")).collect()[0]  # rig only
    min_user = bounds[0] if bounds[0] is not None else 0
    max_user = bounds[1] if bounds[1] is not None else 0
    width = (max(max_user, 0) + 4) // 4

    def land(df, name):
        _land_single(df, d / name)

    adds = []
    for i in range(4):
        lo, hi = i * width, (i + 1) * width - 1
        # range slices must PARTITION the table: file 0 is unbounded BELOW
        # (a negative user_id fails every 0-based BETWEEN — edge_negatives
        # corpus) and carries the NULL rows (which fail every BETWEEN —
        # probe_nulls class 3). Its committed stats state the TRUE min, so
        # pruning stays sound for negative lookup targets too.
        if i == 0:
            sl = (F.col("user_id") <= hi) | F.col("user_id").isNull()
            lo = min(lo, min_user)
        else:
            sl = F.col("user_id").between(lo, hi)
        land(src.filter(sl), f"u{i}.parquet")
        adds.append({"file": f"u{i}.parquet", "stats": {"user_id": [lo, hi]}})
    commit(d, adds=adds, removes=[])

    affected = files_maybe_containing(d, "user_id", GDPR_TARGET_USER)
    if not affected:
        # no file's range can contain the target (empty table, all-NULL
        # keys, or a user-id domain that excludes it): the delete is a
        # metadata no-op, not an assertion failure (edge_empty corpus)
        pass
    else:
        assert len(affected) == 1, affected  # stats pruning isolates one file
        bucket = int(affected[0][1])
        # the scrubbed file keeps the ORIGINAL committed range (conservative
        # — removing one user can only narrow it), so file 0's true-min stays
        lo, hi = next(a for a in adds if a["file"] == affected[0])["stats"]["user_id"]
        land(
            # SQL DELETE semantics: only rows where the predicate is TRUE are
            # removed — a NULL user_id is kept, not swept up by the erasure
            spark.read.parquet(str(d / affected[0])).filter(
                (F.col("user_id") != GDPR_TARGET_USER) | F.col("user_id").isNull()
            ),
            f"u{bucket}_scrubbed.parquet",
        )
        commit(
            d,
            adds=[
                {"file": f"u{bucket}_scrubbed.parquet", "stats": {"user_id": [lo, hi]}}
            ],
            removes=affected,
        )
    return _agg(spark.read.parquet(*live_files(d)))


@query("q_source_xml", oracle=_ORACLE)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML (Spark 4's built-in xml source) → schema'd read-back →
    aggregate. XML is the one wire format enterprises still emit that the
    round-trip suite lacked; values round-trip as text with an explicit
    read schema (inference would double-scan, same rule as the CSV path)."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("src_xml")
    _events_typed(spark, sf_dir).write.format("xml").option("rowTag", "event").save(
        str(d / "xml")
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(schema)
        .load(str(d / "xml"))
    )
    return _agg(back)


COMPACT_EXEC_TARGET = 3  # target: ~3 source files per compacted output


@query(
    "q_table_compact",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", "sum_value", 18, 6)},
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
""",
)
def q_table_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction EXECUTOR on the commit-log table: the planner walks the
    MANIFEST (live files + real on-disk sizes — metadata-sized, the same
    prefix-sum greedy bin packing q_compaction_planner expresses as a
    query), then each multi-file bin is rewritten into one file and the
    whole plan lands as ONE atomic commit — readers see the old layout or
    the new, never a mix. Contents must be byte-identical to the batch
    truth; the in-query assertion pins that the file count actually
    shrank. At 100 TB this is the nightly job that keeps the reference's
    one-object-per-batch accretion (consumer.py:235-249) readable."""
    import os

    from kinesis_test_spark.sources.tablelog import commit, live_files
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("table_compact")
    # pmod, not %: a negative event_id would fail every == i slice test
    # and drop silently (edge_negatives corpus, same class as mod_slice);
    # coalesce to slice 0: a NULL event_id fails every == i test the same
    # way (edge_dupkeys identity-NULL rows — slices must PARTITION)
    src = _events_typed(spark, sf_dir).withColumn(
        "slice", F.expr("coalesce(pmod(event_id, 8), 0)").cast("int")
    )

    def land(df, name):
        _land_single(df, d / name)

    for i in range(8):  # small-file accretion: 8 per-batch objects
        land(src.filter(F.col("slice") == i).drop("slice"), f"b{i}.parquet")
    commit(d, adds=[f"b{i}.parquet" for i in range(8)], removes=[])

    live = live_files(d)
    sizes = {f: os.path.getsize(f) for f in live}
    target = COMPACT_EXEC_TARGET * (sum(sizes.values()) // len(sizes))
    bins: list[list[str]] = []
    acc = 0
    for f in live:  # greedy prefix-sum packing over manifest metadata
        if not bins or acc + sizes[f] > target:
            bins.append([])
            acc = 0
        bins[-1].append(f)
        acc += sizes[f]
    adds, removes = [], []
    for j, group in enumerate(bins):
        if len(group) == 1:
            continue  # already target-sized: never rewritten
        land(spark.read.parquet(*group), f"c{j}.parquet")
        adds.append(f"c{j}.parquet")
        removes.extend(os.path.basename(f) for f in group)
    commit(d, adds=adds, removes=removes)
    after = live_files(d)
    assert len(after) < len(live), (len(after), len(live))
    return _agg(spark.read.parquet(*after))


@query(
    "q_table_evolve",
    oracle=f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum("value", "sum_value", 18, 6)}
FROM (SELECT CASE WHEN ((user_id % 2) + 2) % 2 = 1 THEN 'backfill_v1' END AS source,
             value
      FROM events)
GROUP BY source
""",
)
def q_table_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ON COMMIT (the Iceberg mechanic users hit first,
    VERDICT r6 #6): v0 lands the table without a `source` column; v1 adds
    the column by COMMITTING a new schema alongside a backfill file that
    carries it. The reader projects EVERY live file through the latest
    committed schema (spark.read.schema(ddl)), so pre-evolution files
    serve NULL for the added column — no rewrite of old data, the whole
    point of metadata-level evolution. A time-travel read at v0 still
    sees the 4-column schema (pinned in tests/test_tablelog.py). The
    oracle derives the same relation from first principles: even users
    landed pre-evolution (NULL source), odd users in the backfill.
    NULL semantics (probe_nulls class 3): the two staging slices must
    PARTITION the input — mod_slice routes NULL user_ids into the legacy
    slice (matching the oracle's CASE, where a NULL modulo test is
    NULL → NULL source) and pmod keeps negative keys in-range."""
    from kinesis_test_spark.sources.tablelog import commit, live_files, schema_ddl
    from kinesis_test_spark.streaming.pipeline import mod_slice, scratch_dir

    d = scratch_dir("tablelog_evolve")
    src = _events_typed(spark, sf_dir)

    def land(df, name):
        _land_single(df, d / name)

    base_schema = [
        ["event_id", "BIGINT"],
        ["user_id", "BIGINT"],
        ["event_type", "STRING"],
        ["value", "DOUBLE"],
    ]
    land(src.filter(mod_slice(2, 0)), "legacy.parquet")
    commit(d, adds=["legacy.parquet"], removes=[], schema=base_schema)
    land(
        src.filter(mod_slice(2, 1)).withColumn(
            "source", F.lit("backfill_v1")
        ),
        "backfill.parquet",
    )
    commit(
        d,
        adds=["backfill.parquet"],
        removes=[],
        schema=base_schema + [["source", "STRING"]],
    )
    evolved = spark.read.schema(schema_ddl(d)).parquet(*live_files(d))
    return evolved.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("value", "sum_value", 18, 6),
    )
