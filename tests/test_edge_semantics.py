"""Edge-semantics parity on adversarial in-session data — duplicates, NULL
join keys, all-NULL aggregates: the corners where engine semantics diverge
and the (unique-keyed, null-free) fixtures can't reach."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from kinesis_test_spark.oracle import compare


def duck(frames: dict[str, pd.DataFrame], sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(name, pdf)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.fixture()
def dup_keys(spark):
    left = pd.DataFrame({"k": [1, 1, 2, 3, 3, 3], "x": [10, 11, 20, 30, 31, 32]})
    right = pd.DataFrame({"k": [1, 4]})
    return left, right, spark.createDataFrame(left), spark.createDataFrame(right)


def test_except_distinct_with_left_duplicates(spark, dup_keys):
    left, right, sl, sr = dup_keys
    out = sl.select("k").subtract(sr.select("k"))
    oracle = duck({"l": left, "r": right}, "SELECT k FROM l EXCEPT SELECT k FROM r")
    assert not compare(out, oracle)


def test_intersect_all_multiplicity(spark, dup_keys):
    left, right, sl, sr = dup_keys
    lboth = sl.select("k").unionByName(sl.select("k"))  # k=1 ×4, k=2 ×2, 3 ×6
    out = lboth.intersectAll(sl.select("k"))  # min multiplicity per key
    oracle = duck(
        {"l": left},
        """SELECT k FROM (SELECT k FROM l UNION ALL SELECT k FROM l)
           INTERSECT ALL SELECT k FROM l""",
    )
    assert not compare(out, oracle)


def test_null_join_keys_never_match(spark):
    pdf_a = pd.DataFrame({"k": [1.0, None, 2.0], "a": [1, 2, 3]})
    pdf_b = pd.DataFrame({"k": [1.0, None], "b": [10, 20]})
    sa, sb = spark.createDataFrame(pdf_a), spark.createDataFrame(pdf_b)
    out = sa.join(sb, "k", "inner").select("k", "a", "b")
    oracle = duck(
        {"a": pdf_a, "b": pdf_b},
        "SELECT a.k AS k, a.a, b.b FROM a JOIN b ON a.k = b.k",
    )
    assert not compare(out, oracle)  # NULL keys match nothing, both engines


def test_full_outer_keeps_null_key_rows(spark):
    pdf_a = pd.DataFrame({"k": [1.0, None], "a": [1, 2]})
    pdf_b = pd.DataFrame({"k": [None, 3.0], "b": [10, 30]})
    sa, sb = spark.createDataFrame(pdf_a), spark.createDataFrame(pdf_b)
    out = sa.join(sb, sa.k == sb.k, "full").select(
        sa.k.alias("ka"), "a", sb.k.alias("kb"), "b"
    )
    oracle = duck(
        {"a": pdf_a, "b": pdf_b},
        "SELECT a.k AS ka, a.a, b.k AS kb, b.b FROM a FULL JOIN b ON a.k = b.k",
    )
    assert not compare(out, oracle)  # each NULL-key row survives unmatched


def test_all_null_aggregates(spark):
    pdf = pd.DataFrame({"g": ["x", "x", "y"], "v": [None, None, 1.0]})
    s = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    out = s.groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s"),
        F.count("v").alias("n_nonnull"),
        F.count("*").alias("n_rows"),
    )
    oracle = duck(
        {"t": pdf},
        """SELECT g, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s,
                  COUNT(v) AS n_nonnull, COUNT(*) AS n_rows
           FROM t GROUP BY g""",
    )
    assert not compare(out, oracle)  # SUM of all-NULL is NULL, not 0


def test_division_by_zero_ansi_vs_try_divide(spark):
    """Documented divergence: Spark 4 (ANSI default) ERRORS on x/0 — even
    for doubles — where DuckDB yields ±inf. Engine policy: any division
    with a possibly-zero denominator must use try_divide (NULL result) or
    guard the denominator; no registered query divides by a data-dependent
    value that can be zero."""
    pdf = pd.DataFrame({"x": [1.0, -1.0, 0.0]})
    s = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        s.select((F.col("x") / F.lit(0.0)).alias("q")).collect()
    out = s.select(F.try_divide(F.col("x"), F.lit(0.0)).alias("q")).collect()
    assert all(r["q"] is None for r in out)


def test_schema_evolution_merge(spark, sf_dir, tmp_path=None):
    """Schema drift across file generations (the clickstream schema grew
    fields over time — event.py's nulls witness it): mergeSchema unions the
    schemas, missing columns read as NULL."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("schema_evo")
    gen1 = spark.range(5).select(
        F.col("id"), F.lit("old").alias("source_v")
    )
    gen2 = spark.range(5, 10).select(
        F.col("id"), F.lit(1.5).alias("quality"), F.lit("new").alias("source_v")
    )
    gen1.write.parquet(str(d / "t" / "g=1"))
    gen2.write.parquet(str(d / "t" / "g=2"))
    merged = spark.read.option("mergeSchema", True).parquet(str(d / "t"))
    assert set(merged.columns) >= {"id", "source_v", "quality"}
    assert merged.count() == 10
    olds = merged.filter(F.col("source_v") == "old")
    assert olds.filter(F.col("quality").isNull()).count() == olds.count()


def test_binary_payload_roundtrip_parquet(spark, sf_dir):
    """Multimodal storage pin: binary payloads survive a parquet round trip
    byte-exact (verified by content hash)."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("binary_rt")
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    src.write.parquet(str(d / "t"))
    back = spark.read.parquet(str(d / "t"))
    joined = src.alias("a").join(back.alias("b"), "doc_id")
    mismatches = joined.filter(
        F.md5(F.col("a.payload")) != F.md5(F.col("b.payload"))
    ).count()
    assert mismatches == 0
    assert back.count() == src.count()


def test_avro_round_trip_or_documented_skip(spark, sf_dir):
    """Avro round-trip when the spark-avro connector jar is present; clean
    documented skip otherwise (Spark ships Avro as an external module and
    this build has no network to fetch it)."""
    from kinesis_test_spark import registry
    from kinesis_test_spark.sources.formats import spark_avro_available

    registry.load_all()
    if not spark_avro_available():
        assert "q_source_avro" not in registry.QUERIES
        pytest.skip("spark-avro connector jar not on the classpath")
    avro = (
        registry.QUERIES["q_source_avro"](spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    orc = (
        registry.QUERIES["q_source_orc"](spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert avro.equals(orc)


def test_mm_decode_real_or_documented_skip(spark, sf_dir):
    """Real-codec decode parity when Pillow is importable; clean documented
    skip otherwise (this container has no image libraries — the stub
    pipeline q_mm_decode carries the plumbing oracle meanwhile)."""
    from kinesis_test_spark import registry
    from kinesis_test_spark.operators.multimodal import pil_available
    from kinesis_test_spark.oracle import check_query

    registry.load_all()
    if not pil_available():
        assert "q_mm_decode_real" not in registry.QUERIES
        pytest.skip("Pillow not installed; real-codec path stays dormant")
    problems = check_query(spark, sf_dir, "q_mm_decode_real")
    assert not problems, "; ".join(problems)


def test_transform_with_state_probe():
    """transformWithStateInPandas needs google.protobuf inside the Python
    worker; re-probed every round (VERDICT r2 #8). applyInPandasWithState
    covers the custom-stateful extension point until the env provides it."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf absent; transformWithStateInPandas blocked")
    raise AssertionError(
        "google.protobuf is now available — implement transformWithStateInPandas "
        "(see the environment gotcha in CLAUDE.md)"
    )
