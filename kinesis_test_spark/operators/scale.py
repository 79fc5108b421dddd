"""Scale-pattern operators: the shuffle-shaping techniques that keep the
engine healthy at 100 TB, each proven result-identical to its naive form
via the DuckDB oracle.

  * q_join_skew_salted — salted replication join: hot keys are spread over
    S salt buckets (fact side salts by a uniform key, dim side replicates
    ×S), so no single reducer owns a hot key. Result must equal the plain
    join bit-for-bit.
  * q_join_range_bucket — banded theta join (|Δts| ≤ w within a key)
    rewritten as a time-bucketed equi-join + exact residual filter: shuffle
    on (key, bucket) instead of a nested-loop pair scan. The standard
    rewrite for interval/as-of workloads.
  * q_sink_bucketed — partitioned + bucketed batch sink: the write-side
    layout that lets later joins/aggs on the bucket key skip their shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import sql_ms
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t

N_SALTS = 8
BAND_SEC = 300  # 5-minute pairing band


@query(
    "q_join_skew_salted",
    oracle="""
SELECT e.event_id, e.user_id % 3 AS skew_key,
       'grp-' || CAST(e.user_id % 3 AS VARCHAR) AS grp_name
FROM events e
""",
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: fact keyed on a deliberately hot key (user_id % 3 —
    three giant keys), dim replicated across N_SALTS salts, join on
    (key, salt). Each hot key's rows land on N_SALTS reducers instead of
    one. Oracle = the unsalted join, proving the rewrite changes only the
    physical distribution. NULL semantics (probe_nulls class 3): an
    enrichment join must not silently lose facts — a NULL user_id row
    joins null-safely (<=>) to the dim's own NULL-key row and survives
    with a NULL grp_name, exactly what the oracle's direct projection
    states."""
    ev = t(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        (F.col("user_id") % 3).alias("skew_key"),
        # coalesce: a NULL event_id would NULL the salt and fail the
        # equi-join — the same silent fact loss the null-safe key join
        # exists to prevent (edge_dupkeys identity-NULL rows land salt 0)
        F.coalesce(F.pmod(F.col("event_id"), F.lit(N_SALTS)), F.lit(0)).alias("salt"),
    )
    dim = (
        ev.select((F.col("user_id") % 3).alias("skew_key"))
        .distinct()
        .select("skew_key", F.concat(F.lit("grp-"), F.col("skew_key").cast("string")).alias("grp_name"))
    )
    dim_salted = dim.crossJoin(
        spark.range(N_SALTS).select(F.col("id").cast("bigint").alias("salt"))
    ).select(F.col("skew_key").alias("d_skew_key"), "salt", "grp_name")
    return (
        fact.join(
            dim_salted,
            fact.skew_key.eqNullSafe(dim_salted.d_skew_key)
            & (fact.salt == dim_salted.salt),
        )
        .select("event_id", "skew_key", "grp_name")
    )


@query(
    "q_join_range_bucket",
    oracle=f"""
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND {sql_ms("b.ts")} - {sql_ms("a.ts")} <= {BAND_SEC * 1000}
GROUP BY a.user_id
""",
)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded self-join (pairs of events of one user within 5 minutes),
    executed as a bucketed equi-join: bucket = floor(epoch / band); a pair
    within the band is either same-bucket or adjacent-bucket, so two
    equi-joins on (user_id, bucket) + the exact residual predicate cover it
    — no nested loop, shuffle keyed on (user, bucket)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.unix_millis("ts").alias("ms"),
        F.floor(F.unix_millis("ts") / (BAND_SEC * 1000)).alias("bucket"),
    )
    a = ev.select(
        F.col("user_id").alias("u_a"), F.col("ms").alias("ms_a"), F.col("bucket").alias("b_a")
    )
    b = ev.select(
        F.col("user_id").alias("u_b"), F.col("ms").alias("ms_b"), F.col("bucket").alias("b_b")
    )
    residual = (F.col("ms_b") > F.col("ms_a")) & (
        (F.col("ms_b") - F.col("ms_a")) <= BAND_SEC * 1000
    )
    # the bucket is part of the JOIN KEY — the shuffle is on (user, bucket)
    same = a.join(b, (F.col("u_a") == F.col("u_b")) & (F.col("b_a") == F.col("b_b"))).filter(
        residual
    )
    nxt = a.join(b, (F.col("u_a") == F.col("u_b")) & (F.col("b_b") == F.col("b_a") + 1)).filter(
        residual
    )
    pairs = same.unionByName(nxt)
    return pairs.groupBy(F.col("u_a").alias("user_id")).agg(F.count("*").alias("n_pairs"))


@query(
    "q_sink_bucketed",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag
""",
)
def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem partitioned by l_returnflag and bucketed ×8 on
    l_orderkey (the join key), read it back through the catalog, aggregate.
    On a cluster this layout makes lineitem⋈orders shuffle-free on the
    bucket key and prunes partitions on the flag predicate."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("bucketed_sink")
    table = f"lineitem_bucketed_{d.name}"
    li = t(spark, sf_dir, "lineitem")
    (
        li.write.mode("overwrite")
        .partitionBy("l_returnflag")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(d / "table"))
        .saveAsTable(table)
    )
    back = spark.table(table)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.countDistinct("l_orderkey").alias("n_orders")
    )


ZORDER_BITS = 8  # interleave 8 bits of each dimension → 16-bit z-key


@query(
    "q_zorder_key",
    oracle=f"""
WITH dims AS (
  -- DISTINCT: a redelivered byte-identical row must not double the
  -- per-group bit SUM below (tests/test_edge_dupkeys.py); the key
  -- assignment is a FUNCTION of (event_id, dx, dy)
  SELECT DISTINCT event_id,
         CAST(user_id % 256 AS BIGINT) AS dx,
         CAST(hour(ts) AS BIGINT) AS dy
  FROM events WHERE event_id < 1000),
bits AS (
  SELECT event_id, dx, dy,
         CAST(SUM(((dx >> i) & 1) * (1 << (2 * i))
                  + ((dy >> i) & 1) * (1 << (2 * i + 1))) AS BIGINT) AS zkey
  FROM dims, UNNEST(generate_series(0, {ZORDER_BITS - 1})) AS u(i)
  GROUP BY event_id, dx, dy)
SELECT event_id, dx, dy, zkey FROM bits ORDER BY event_id
""",
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key: bit-interleave two dimensions so ONE sort
    clusters BOTH — the layout trick behind multi-dimensional data
    skipping (Delta OPTIMIZE ZORDER). Writing files in zkey order gives
    every file a tight [min,max] on user bucket AND hour simultaneously,
    where a single-column sort leaves the other dimension spanning its
    full range (quantified in tests/test_plans.py: per-file range width
    shrinks on both dims vs a ts-sorted layout). Pure integer bit math
    inside codegen — the aggregate-over-bits form here mirrors the oracle;
    a production writer would fold it to one expression."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    dx = (F.col("user_id") % 256).cast("bigint")
    dy = F.hour("ts").cast("bigint")
    zexpr = F.expr(
        f"aggregate(sequence(0, {ZORDER_BITS - 1}), 0L,"
        " (acc, i) -> acc + ((dx >> i) & 1) * shiftleft(1L, 2 * i)"
        " + ((dy >> i) & 1) * shiftleft(1L, 2 * i + 1))"
    )
    return (
        ev.select("event_id", dx.alias("dx"), dy.alias("dy"))
        .distinct()  # one key assignment per (event_id, dx, dy) — oracle DISTINCT
        .withColumn("zkey", zexpr.cast("bigint"))
        .orderBy("event_id")
    )


@query(
    "q_skew_report",
    oracle="""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n, user_id NULLS FIRST) AS r,
         COUNT(*) OVER () AS k, CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM counts)
SELECT CAST(k AS BIGINT) AS n_keys, total AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       -- raw IEEE arithmetic over exact integer-valued operands (the gini
       -- SUM's double summands are integer-valued and the running sum stays
       -- under 2^53, so it is exact and order-independent) — no ROUND
       -- (round-10 finding: rounding exact quotients adds halfway ties)
       CAST(MAX(n) AS DOUBLE) * k / total AS skew_factor,
       CAST(SUM((2.0 * r - k - 1) * n) AS DOUBLE) / (k * total)
         AS gini
FROM ranked GROUP BY k, total
""",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics — the measurement that decides whether a join
    needs salting (q_join_skew_salted) or AQE skew handling BEFORE the
    shuffle burns: per-key counts, the hottest key's multiple of the mean
    (skew_factor = max·k/total; 1.0 = uniform), and the Gini coefficient
    of the key distribution via the sorted-rank formula. The per-key
    relation is |keys| rows; the rank window orders only that relation
    (never fact rows), so the diagnostic costs one aggregate + one
    dimension-sized sort at any fact scale."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_all = Window.partitionBy()
    ranked = counts.select(
        "n",
        F.row_number().over(Window.orderBy("n", "user_id")).alias("r"),
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum("n").over(w_all).cast("bigint").alias("total"),
    )
    return ranked.groupBy("k", "total").agg(
        F.max("n").cast("bigint").alias("max_key_rows"),
        (F.max("n").cast("double") * F.col("k") / F.col("total")).alias(
            "skew_factor"
        ),
        (
            F.sum((2.0 * F.col("r") - F.col("k") - 1) * F.col("n")).cast("double")
            / (F.col("k") * F.col("total"))
        ).alias("gini"),
    ).select(
        F.col("k").cast("bigint").alias("n_keys"),
        F.col("total").alias("n_rows"),
        "max_key_rows",
        "skew_factor",
        "gini",
    )


# ---------------------------------------------------------------------------
# count-min sketch (heavy-hitter estimation at fixed memory)
# ---------------------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 256  # buckets per row
CM_TOP = 20  # heavy hitters evaluated against exact truth


def _cm_oracle() -> str:
    from kinesis_test_spark.functions.porthash import sql_hex16
    from kinesis_test_spark.sources import SQL_UNIQUE_DOCS

    def bucket_list(ref: str) -> str:
        exprs = ", ".join(
            "(" + sql_hex16("'cm%d|' || %s" % (j, ref)) + ") %% %d" % CM_W
            for j in range(CM_D)
        )
        return "[" + exprs + "]"

    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w
  FROM {SQL_UNIQUE_DOCS}),
placed AS (
  SELECT w, j, ({bucket_list("w")})[j + 1] AS bucket
  FROM toks, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j)),
cells AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cell
  FROM placed GROUP BY j, bucket),
exact AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM toks GROUP BY w
  ORDER BY n_exact DESC, w LIMIT {CM_TOP}),
probes AS (
  SELECT e.w, e.n_exact, p.j, ({bucket_list("e.w")})[p.j + 1] AS bucket
  FROM exact e, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j) p)
SELECT pr.w AS word, pr.n_exact,
       CAST(MIN(c.cell) AS BIGINT) AS cm_est,
       CAST(MIN(c.cell) - pr.n_exact AS BIGINT) AS overestimate
FROM probes pr JOIN cells c ON c.j = pr.j AND c.bucket = pr.bucket
GROUP BY pr.w, pr.n_exact
ORDER BY pr.n_exact DESC, pr.w
"""


@query("q_sketch_countmin", oracle=_cm_oracle())
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter evaluation: estimate token counts
    from a d×w = 4×256-cell sketch and report, for the top-20 tokens by
    exact count, the estimate and its collision overestimate (CM never
    underestimates: est = min over d rows of the hashed cell count, each
    cell ≥ the true count). Hashes are the portable md5-hex16 projection
    (functions/porthash.py) so both engines build bit-identical sketches.
    THE SCALE CLAIM: the sketch aggregate carries d·w = 1024 cells
    regardless of token cardinality — a fixed-memory partial/final
    aggregate where the exact top-k needs a full |vocab|-sized shuffle;
    at 100 TB the exact side of this evaluation runs on a sample by
    design (the q_dedup_eval principle) and the sketch is the production
    path. Token stream consumes unique_docs (doc-identity grain —
    redelivered rows must not double counts)."""
    from kinesis_test_spark.functions.porthash import spark_hex16
    from kinesis_test_spark.sources import unique_docs

    toks = (
        unique_docs(spark, sf_dir, cols=["doc_id", "text"])
        .select(F.explode(F.split("text", " ")).alias("w"))
    )

    def bucket(j, col):
        return F.pmod(spark_hex16(F.concat(F.lit(f"cm{j}|"), col)), F.lit(CM_W))

    placed = toks.select(
        "w",
        F.posexplode(F.array(*[bucket(j, F.col("w")) for j in range(CM_D)])).alias(
            "j", "bucket"
        ),
    )
    cells = placed.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell")
    )
    exact = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "w")
        .limit(CM_TOP)
    )
    probes = exact.select(
        "w",
        "n_exact",
        F.posexplode(F.array(*[bucket(j, F.col("w")) for j in range(CM_D)])).alias(
            "j", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy(F.col("w").alias("word"), "n_exact")
        .agg(F.min("cell").cast("bigint").alias("cm_est"))
        .select(
            "word",
            "n_exact",
            "cm_est",
            (F.col("cm_est") - F.col("n_exact")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.col("n_exact").desc(), "word")
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (fixed-memory cardinality estimation vs truth)
# ---------------------------------------------------------------------------

KMV_K = 64
# Estimator numerator (K-1) * 16^12: the hash fraction is the first 48 bits
# of md5 as an integer over 2^48, so est = (K-1)/frac = (K-1)*2^48/v48.
# 63 * 2^48 EXCEEDS 2^53, but it is still exactly representable in a
# double because its significand is only 6 bits wide (63) — exactness
# here comes from the narrow mantissa, NOT from magnitude (do not copy
# this pattern to a numerator whose significand is wider than 53 bits).
# The quotient of two exact integer-valued doubles is bit-identical
# cross-engine (no ROUND).
_KMV_NUM = (KMV_K - 1) * (16**12)


def _kmv_v48_sql(ref: str) -> str:
    """DuckDB mirror of conv(substr(h,1,12),16,10): the first 48 bits of an
    md5 hex string as a BIGINT (12 strpos digit terms, exact)."""
    from kinesis_test_spark.functions.porthash import HEX

    terms = " + ".join(
        f"(strpos('{HEX}', substr({ref}, {i}, 1)) - 1) * {16 ** (12 - i)}"
        for i in range(1, 13)
    )
    return f"({terms})"


def _kmv_oracle() -> str:
    return f"""
WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                i -> w[i] || ' ' || w[i+1])) AS g
  FROM words),
hs AS (SELECT DISTINCT md5(g) AS h FROM bg),
exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM hs),
samp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample, max(h) AS kth
  FROM (SELECT h FROM hs ORDER BY h LIMIT {KMV_K})),
est AS (
  SELECT e.n_exact, s.n_sample,
         CASE WHEN s.n_sample < {KMV_K} THEN CAST(e.n_exact AS DOUBLE)
              ELSE CAST({_KMV_NUM} AS DOUBLE) / NULLIF({_kmv_v48_sql("s.kth")}, 0)
         END AS kmv_est
  FROM exact e, samp s)
SELECT n_exact AS n_exact_distinct, CAST({KMV_K} AS BIGINT) AS kmv_k, n_sample,
       kmv_est,
       abs(kmv_est - CAST(n_exact AS DOUBLE)) / NULLIF(CAST(n_exact AS DOUBLE), 0.0)
         AS rel_err
FROM est
"""


@query("q_sketch_kmv", oracle=_kmv_oracle())
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch evaluated against exact truth:
    estimate the number of DISTINCT word bigrams in the corpus from only
    the K=64 lexicographically smallest md5 hashes (est = (K-1)/frac of the
    K-th smallest, the Bar-Yossef/Beyer KMV estimator), next to the exact
    countDistinct. Unlike HLL (engine-opaque registers, rows-only key
    q_agg_approx_distinct), KMV over the portable md5 hex hash is
    BIT-IDENTICAL cross-engine, so the estimate itself is oracle-checked.
    THE SCALE CLAIM: the sketch side is a global top-K over hashes —
    TakeOrderedAndProject holds K rows per partition and merges K, no
    |vocab|-sized shuffle, and KMV sketches union by merging min-sets (the
    distributed-aggregation property HLL is used for); the exact side is
    the eval harness, run on a sample at 100 TB (q_dedup_eval principle).
    When the corpus has fewer than K distinct values the sketch IS the
    exact set (n_sample < K) and the estimator returns the exact count —
    stated identically on both sides. Bigram generation is the empty-safe
    slice/zip_with form (q_text_bigrams); DISTINCT collapses redelivered
    rows, so no doc-identity gate is needed."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    w = F.col("w")
    k = F.greatest(F.size(w) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(w, 1, k), F.slice(w, 2, k), lambda a, b: F.concat_ws(" ", a, b)
    )
    hs = (
        d.select(F.explode(bigrams).alias("g"))
        .select(F.md5("g").alias("h"))
        .distinct()
    )
    exact = hs.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    samp = (
        hs.orderBy("h")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sample"), F.max("h").alias("kth"))
    )
    v48 = F.conv(F.substring(F.col("kth"), 1, 12), 16, 10).cast("long")
    est = (
        exact.crossJoin(F.broadcast(samp))
        .withColumn(
            "kmv_est",
            F.when(
                F.col("n_sample") < KMV_K, F.col("n_exact").cast("double")
            ).otherwise(F.try_divide(F.lit(float(_KMV_NUM)), v48)),
        )
    )
    return est.select(
        F.col("n_exact").alias("n_exact_distinct"),
        F.lit(KMV_K).cast("bigint").alias("kmv_k"),
        "n_sample",
        "kmv_est",
        F.try_divide(
            F.abs(F.col("kmv_est") - F.col("n_exact").cast("double")),
            F.col("n_exact").cast("double"),
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (runtime filter evaluated against exact truth)
# ---------------------------------------------------------------------------

BLOOM_M = 16384  # bits (< 65536 so the hex16 projection covers the domain)
BLOOM_K = 3  # probes per key
BLOOM_SEGMENT = "BUILDING"  # build-side predicate (dim-filtered semi join)


def _bloom_probe_sql(j: int, ref: str) -> str:
    from kinesis_test_spark.functions.porthash import sql_hex16

    expr = f"'bf{j}|' || CAST({ref} AS VARCHAR)"
    return f"(({sql_hex16(expr)}) % {BLOOM_M})"


def _bloom_oracle() -> str:
    exists = " AND ".join(
        f"EXISTS(SELECT 1 FROM bits WHERE bucket = {_bloom_probe_sql(j, 'o.o_custkey')})"
        for j in range(BLOOM_K)
    )
    probes = ", ".join(_bloom_probe_sql(j, "c_custkey") for j in range(BLOOM_K))
    return f"""
WITH build AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_mktsegment = '{BLOOM_SEGMENT}' AND c_custkey IS NOT NULL),
bits AS (SELECT DISTINCT unnest([{probes}]) AS bucket FROM build),
flags AS (
  SELECT ({exists}) AS bloom_pass,
         EXISTS(SELECT 1 FROM build b WHERE b.c_custkey = o.o_custkey)
           AS is_member
  FROM orders o WHERE o.o_custkey IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(COUNT(*) FILTER (WHERE is_member) AS BIGINT) AS n_members,
       CAST(COUNT(*) FILTER (WHERE bloom_pass) AS BIGINT) AS n_pass,
       CAST(COUNT(*) FILTER (WHERE bloom_pass AND NOT is_member) AS BIGINT)
         AS n_false_pos,
       CAST(COUNT(*) FILTER (WHERE is_member AND NOT bloom_pass) AS BIGINT)
         AS n_false_neg,
       CAST(COUNT(*) FILTER (WHERE bloom_pass AND NOT is_member) AS DOUBLE)
         / NULLIF(COUNT(*) FILTER (WHERE NOT is_member), 0) AS fp_rate
FROM flags
"""


@query("q_join_bloom", oracle=_bloom_oracle())
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning evaluated against exact truth: build an
    m=16384-bit / k=3-probe Bloom filter over the dim-side key set
    (customers in one market segment), pre-filter the fact side (orders)
    with it, and report pass counts, false positives, the guaranteed-zero
    false negatives, and the measured fp rate among true non-members —
    the runtime-filter technique (Spark's own runtime bloom pruning,
    parquet bloom indexes) with its accuracy made observable, the
    q_dedup_eval/q_sketch_countmin principle. Hashes are the portable
    md5-hex16 projection so both engines build the bit-identical filter.
    THE SCALE CLAIM: the filter is O(m) bits broadcast to every scan task
    regardless of fact size — fact rows that fail it never reach the join
    shuffle; the bit-set relation (<= m rows) broadcasts, so membership
    testing is map-side. fp_rate is an exact-integer quotient (no ROUND);
    NULL-key fact rows are excluded symmetrically on both sides (a NULL
    key has no probe positions). The fixture's fill ratio grows with SF,
    so the eval exercises a different fp regime at each test scale."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    def probe(j: int, col: F.Column) -> F.Column:
        return F.pmod(
            spark_hex16(F.concat(F.lit(f"bf{j}|"), col.cast("string"))),
            F.lit(BLOOM_M),
        )

    cust = t(spark, sf_dir, "customer")
    build = (
        cust.filter(
            (F.col("c_mktsegment") == BLOOM_SEGMENT) & F.col("c_custkey").isNotNull()
        )
        .select("c_custkey")
        .distinct()
    )
    bits = build.select(
        F.explode(
            F.array(*[probe(j, F.col("c_custkey")) for j in range(BLOOM_K)])
        ).alias("bucket")
    ).distinct()

    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select("o_custkey")
    )
    for j in range(BLOOM_K):
        bj = bits.select(
            F.col("bucket").alias(f"b{j}"), F.lit(True).alias(f"hit{j}")
        )
        o = o.withColumn(f"b{j}", probe(j, F.col("o_custkey"))).join(
            F.broadcast(bj), f"b{j}", "left"
        )
    member = build.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(True).alias("member")
    )
    o = o.join(F.broadcast(member), "o_custkey", "left")

    bloom_pass = F.col("hit0").isNotNull()
    for j in range(1, BLOOM_K):
        bloom_pass = bloom_pass & F.col(f"hit{j}").isNotNull()
    flags = o.select(
        bloom_pass.alias("bloom_pass"),
        F.coalesce(F.col("member"), F.lit(False)).alias("is_member"),
    )

    def n(cond: F.Column) -> F.Column:
        return F.count(F.when(cond, F.lit(1))).cast("bigint")

    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        n(F.col("is_member")).alias("n_members"),
        n(F.col("bloom_pass")).alias("n_pass"),
        n(F.col("bloom_pass") & ~F.col("is_member")).alias("n_false_pos"),
        n(F.col("is_member") & ~F.col("bloom_pass")).alias("n_false_neg"),
        F.try_divide(
            n(F.col("bloom_pass") & ~F.col("is_member")).cast("double"),
            n(~F.col("is_member")),
        ).alias("fp_rate"),
    )
