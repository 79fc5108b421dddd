"""Similarity search over the embeddings table (NS mandate).

  * q_sim_search     — exact brute-force cosine top-k (the correctness
                       baseline; full scan, per-partition heap via top-k plan)
  * q_sim_search_ivf — IVF-style two-stage search: assign vectors to the
                       nearest of C fixed centroids (coarse quantizer),
                       probe only the query's cell. The 100 TB path: the
                       assignment is one broadcast join + argmax (map-side),
                       search touches ~1/C of the data, and the cell id is
                       a natural partition key for the vector store.

All vector math is JVM-side (`zip_with` product + `aggregate` fold) — no
Python UDFs. Scores are rounded to 6dp on both engines before ordering so
float32→float64 promotion and summation order can't flip a rank.

Zero-vector caveat: cosine divides by the norms; with Spark 4's ANSI mode
a bare division would raise DIVIDE_BY_ZERO on a zero vector (and some
shard always contains the degenerate row at corpus scale).  `cosine`
therefore yields -1.0 on a zero norm — the same sentinel DuckDB's
list_cosine_similarity returns, so every oracle in this file stays
value-aligned — and a -1 score can never enter a top-k or pass a
similarity threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.iterate import truncate_lineage
from kinesis_test_spark.functions.exact import split_sum16, sql_split_sum16
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t

TOP_K = 10
N_CENTROIDS = 8
QUERY_VEC_ID = 0


def _dot(u: Column, v: Column) -> Column:
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def cosine(u: Column, v: Column, ndigits: int = 6) -> Column:
    # try_divide → NULL on a zero norm; coalesce to DuckDB's -1.0 sentinel
    return F.round(
        F.coalesce(
            F.try_divide(_dot(u, v), F.sqrt(_dot(u, u)) * F.sqrt(_dot(v, v))),
            F.lit(-1.0),
        ),
        ndigits,
    )


def assign_cells(v, cent, cols: list[str]):
    """Broadcast-argmax cell assignment as a partial/final max_by AGGREGATE,
    not a window: map-side combine collapses the n×k scored relation
    k-fold before the shuffle, where a Window.partitionBy(vec_id) would
    shuffle and sort all n×k rows — the shape difference that matters at
    100 TB. Deterministic: the (sim, -cid) ordering key is unique per
    vector (cids are distinct), mirroring the oracles' rn=1 over
    `sim DESC, cid ASC` exactly. ``cols`` are the per-vector payload
    columns carried through (always includes ``e``); the argmax'd ``cid``
    and its ``sim`` are appended."""
    # norms precomputed once per vector / per centroid before the n×k
    # score join (the q_dedup_embedding rule): cosine() inline would
    # re-fold sqrt(dot(u,u)) and sqrt(dot(v,v)) per PAIR — higher-order
    # folds are interpreted, so that triples the per-pair cost. The
    # assembled expression is bit-identical (same values, same multiply
    # order as cosine()).
    vn = v.withColumn("_nu", F.sqrt(_dot(F.col("e"), F.col("e"))))
    cn = cent.withColumn("_nc", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    sim = F.round(
        F.coalesce(
            F.try_divide(_dot(F.col("e"), F.col("ce")), F.col("_nu") * F.col("_nc")),
            F.lit(-1.0),
        ),
        6,
    )
    scored = vn.crossJoin(cn).select(
        "vec_id", *cols, "cid", sim.alias("sim")
    )
    payload = F.struct(*[F.col(c) for c in cols], "cid", "sim")
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                payload,
                F.struct(F.col("sim").alias("s"), (-F.col("cid")).alias("nc")),
            ).alias("r")
        )
        .select(
            "vec_id",
            *[F.col(f"r.{c}").alias(c) for c in cols],
            F.col("r.cid").alias("cid"),
            F.col("r.sim").alias("sim"),
        )
    )


# The corpus dimensionality. list<float> admits ANY length, so shape is
# part of the validity contract (see vec_valid); the per-dim unnest
# oracles and PQ subspace math also key off this constant.
DIM = 64

# A vector is VALID iff present, EXACTLY DIM-long, and every component
# sits inside the EMBEDDING ROUTE DOMAIN |x| < 1e6 (VEC_COMPONENT_MAX —
# tightened from the generic 1e12 in round 12, degenvec class finding):
# the centroid family sums components at the 1e-16 grain
# (exact.split_sum16 since r14 — FLOOR(c) as exact integers + the
# IEEE-exact fraction as LONG cents; the old direct DECIMAL(28,16) cast
# was engine-ambiguous on ~1/30k of float32 components, EDGES class 24)
# and hands the sum back as DOUBLE, where the engines' decimal->double
# conversions drift one ULP apart once the value is large (exact.py
# DOUBLE_SAFE_EXP note); a per-dim MEAN of magnitude m carries that
# drift as ~ULP(m), so ROUND(...,9) oracles stay deterministic only for
# m ≲ 2.25e6 (0.5·10⁻⁹·2⁵²). |x| < 1e6 keeps every downstream route —
# centroid means (ROUND 9), drift dot-products (< 1e12, inside
# split_sum16's |c| < 2^52 exactness domain), norms/cosines (doubles +
# ROUND 6) — in the engine-agreeing regime, and is still orders of
# magnitude above any real embedding's components. NaN poisons
# similarity rankings asymmetrically (Spark sorts a NaN cosine to the
# TOP of a DESC order; DuckDB windowed aggs NULL or raise), a
# finite-but-huge component escapes the split form's exactness domain
# (and FLOOR→LONG would ANSI-overflow), and a WRONG-LENGTH vector
# splits the engines outright: Spark zip_with NULL-pads the shorter side
# (dot -> NULL -> -1.0 sentinel) while DuckDB list_cosine_similarity
# RAISES on mismatched lengths — and an un-quarantined EMPTY list hits a
# DuckDB internal error that invalidates the whole connection
# (tests/test_edge_ragged.py). Invalid vectors are quarantined: e is
# NULL, every `e IS NOT NULL` / cosine sentinel path then treats them
# identically on both engines. SQL mirror: _SQL_VEC_VALID below.


VEC_COMPONENT_MAX = 1.0e6  # the embedding route domain (see above)


def vec_valid(col: str = "embedding"):
    # shape + domain: exactly DIM components (ragged vectors split the
    # engines — see the contract comment above), each non-NULL and inside
    # the embedding route domain (abs(x) < b is FALSE for NaN/±Inf in
    # both engines)
    return (
        F.col(col).isNotNull()
        & (F.size(col) == F.lit(DIM))
        & F.forall(
            col,
            lambda x: x.isNotNull()
            & (F.abs(x.cast("double")) < F.lit(VEC_COMPONENT_MAX)),
        )
    )


def sql_vec_valid(col: str = "embedding") -> str:
    """SQL mirror of ``vec_valid``; ``_SQL_VEC_VALID`` is its ``embedding``
    form. Oracle SQL interpolates it and never pastes the predicate."""
    return (
        f"({col} IS NOT NULL AND len({col}) = {DIM}"
        f" AND len(list_filter({col},"
        " x -> x IS NULL OR NOT (abs(CAST(x AS DOUBLE)) < 1.0e6))) = 0)"
    )


def sql_vec_e(col: str = "embedding") -> str:
    """SQL mirror of ``_vectors``' ``e`` column: the vector as DOUBLE[],
    NULL when ``sql_vec_valid`` quarantines it."""
    return f"(CASE WHEN {sql_vec_valid(col)} THEN CAST({col} AS DOUBLE[]) END)"


_SQL_VEC_VALID = sql_vec_valid()
_SQL_VEC_E = sql_vec_e()


# Oracle-side mirror of _vectors' identity grain — interpolate it as the
# FROM source in any embeddings oracle; never paste its text (the
# tests/test_oracle_helpers.py scan fails on a copy). Full-tuple
# DISTINCT ≡ id-grain dedup under the byte-identical-redelivery contract
# (the unique_docs trick; mutated same-id rows are out of contract).
_SQL_VECTORS = (
    "(SELECT DISTINCT vec_id, label, embedding FROM embeddings"
    " WHERE vec_id IS NOT NULL)"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vector IDENTITY — the embeddings mirror of
    sources.unique_docs (r13 finding, the q_dedup_semantic NULL-id ADVICE
    generalized): a vector's identity is vec_id, and every similarity
    consumer either argmax-groups ON vec_id (assign_cells — two valid
    NULL-id vectors collapse into ONE engine-arbitrary group; proven
    divergence in q_kmeans_step), ranks with vec_id as the unique
    tie-break (top-k cuts — two tied NULL-id rows make the cut
    arbitrary), or joins codebooks built from id-selected rows (a
    redelivered duplicate of a codebook row re-multiplies the broadcast
    join — proven ADC overcount in q_sim_search_ivfpq under the dupkeys
    corpus). Identity-less rows are quarantined and byte-identical
    redeliveries collapse to one row, on BOTH sides (_SQL_VECTORS)."""
    return (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull())
        .dropDuplicates(["vec_id"])
        .select(
            "vec_id",
            "label",
            F.when(
                vec_valid(), F.transform("embedding", lambda x: x.cast("double"))
            ).alias("e"),
        )
    )


@query(
    "q_sim_search",
    oracle=f"""
WITH q AS (SELECT {_SQL_VEC_E} AS qe FROM {_SQL_VECTORS}
           WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       ROUND(list_cosine_similarity({_SQL_VEC_E}, qe), 6) AS cos_sim
FROM {_SQL_VECTORS}, q
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
""",
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query vector against the full
    table; TakeOrderedAndProject keeps a k-heap per partition — no global
    sort, no shuffle of the vector column."""
    v = _vectors(spark, sf_dir)
    q = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )
    return (
        v.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select("vec_id", "label", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


@query(
    "q_sim_search_ivf",
    oracle=f"""
WITH cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM {_SQL_VECTORS}
              WHERE vec_id < {N_CENTROIDS} AND {_SQL_VEC_VALID}),
v AS (SELECT vec_id, label, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}),
scored AS (
  SELECT v.vec_id, v.label, v.e, cent.cid,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC, cent.cid) AS rn
  FROM v, cent),
assigned AS (SELECT vec_id, label, e, cid FROM scored WHERE rn = 1),
qc AS (SELECT cid, e AS qe FROM assigned WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, a.cid,
       ROUND(list_cosine_similarity(a.e, qc.qe), 6) AS cos_sim
FROM assigned a, qc
WHERE a.cid = qc.cid AND a.vec_id <> {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
""",
)
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: fixed coarse codebook (first C vectors as centroids —
    a deterministic stand-in for k-means), assign via broadcast argmax,
    search only the query's cell. Recall < exact by construction; compare
    with q_sim_search for the tradeoff."""
    v = _vectors(spark, sf_dir)
    cent = F.broadcast(
        v.filter((F.col("vec_id") < N_CENTROIDS) & F.col("e").isNotNull()).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    assigned = assign_cells(v, cent, ["label", "e"]).select(
        "vec_id", "label", "e", "cid"
    )
    qc = F.broadcast(
        assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("cid").alias("qcid"), F.col("e").alias("qe")
        )
    )
    return (
        assigned.join(qc, F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cid", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# cosine LSH (random hyperplane signs)
# ---------------------------------------------------------------------------

N_PLANES = 8
LSH_RERANK_THRESHOLD = 0.3


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, embedded as literals in BOTH
    engines (md5-derived, seeded) — no cross-engine hashing at query time."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp|{p}|{d}".encode()).hexdigest()[:4], 16) / 65536.0 - 0.5
            for d in range(DIM)
        ]
        for p in range(N_PLANES)
    ]


_PLANES = _hyperplanes()


def _lsh_oracle() -> str:
    planes_sql = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + "]" for plane in _PLANES
    )
    proj = (
        "list_reduce(list_transform(generate_series(1, {dim}), i -> e[i] * R[{p}][i]),"
        " (a, b) -> a + b)"
    )
    bits = " + ".join(
        f"(CASE WHEN {proj.format(dim=DIM, p=p + 1)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
WITH planes AS (SELECT [{planes_sql}] AS R),
v AS (SELECT vec_id, label, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
     WHERE {_SQL_VEC_VALID}),
bucketed AS (
  SELECT vec_id, label, e, CAST({bits} AS BIGINT) AS bucket FROM v, planes)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.e, b.e), 4) >= {LSH_RERANK_THRESHOLD}
"""


@query("q_sim_lsh", oracle=_lsh_oracle())
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine LSH: 8 random-hyperplane sign bits → 256 buckets; candidate
    pairs form only inside a bucket (collision probability rises with
    cosine similarity), then exact-cosine rerank keeps real matches. The
    linear-cost alternative to blocked pairing when no natural blocking
    key exists; at scale the bucket id doubles as the shuffle key.
    The projection fold (0 + x₁ + x₂ …) is sequenced identically in both
    engines so the sign bits match bit-for-bit. NULL vectors are excluded
    on both sides (a sign-bit bucket for an absent vector is meaningless
    and DuckDB's list ops error on NULL elements; nulls corpus class 4,
    tools/battery.py --class nulls)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull()).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    plane_cols = [
        F.aggregate(
            F.zip_with(
                F.col("e"),
                F.array(*[F.lit(x) for x in _PLANES[p]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for p in range(N_PLANES)
    ]
    bucket = sum(
        [F.when(plane_cols[p] > 0, F.lit(1 << p)).otherwise(0) for p in range(N_PLANES)],
        start=F.lit(0),
    ).cast("bigint")
    bucketed = v.select("vec_id", "label", "e", bucket.alias("bucket"))
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("bucket").alias("bucket_b")
    )
    cos = cosine(F.col("ea"), F.col("eb"), 4)
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "bucket", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= LSH_RERANK_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# k-means step (the iterative-refinement primitive behind a real IVF codebook)
# ---------------------------------------------------------------------------


@query(
    "q_kmeans_step",
    oracle=f"""
WITH cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM {_SQL_VECTORS}
              WHERE vec_id < {N_CENTROIDS} AND {_SQL_VEC_VALID}),
v AS (SELECT vec_id, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
     WHERE {_SQL_VEC_VALID}),
scored AS (
  SELECT v.vec_id, v.e, cent.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC,
                                     cent.cid) AS rn
  FROM v, cent),
assigned AS (SELECT vec_id, e, cid FROM scored WHERE rn = 1),
dims AS (SELECT unnest(generate_series(1, {DIM})) AS dim),
comp AS (SELECT cid, dim, e[dim] AS val FROM assigned, dims),
sizes AS (SELECT cid, COUNT(DISTINCT vec_id) AS n_members FROM assigned GROUP BY cid)
SELECT c.cid, CAST(c.dim AS INT) AS dim,
       ROUND({sql_split_sum16('c.val')} / COUNT(*), 9)
         AS centroid_val,
       s.n_members
FROM comp c JOIN sizes s ON s.cid = c.cid
GROUP BY c.cid, c.dim, s.n_members
""",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embeddings (the refinement
    step that turns the fixed IVF codebook into a trained one): broadcast
    argmax assignment (as q_sim_search_ivf), then per-(cluster, dimension)
    mean — component sums go through split_sum16's 1e-16-grain split form
    so the partial-agg order can't move the sum at all (exact at these
    magnitudes: |val| < 1e6, integer part exact, fraction as LONG), then one
    double division + ROUND(..., 9) identical on both engines. The driver
    loop of a full k-means is this query iterated; each step is one
    broadcast join + one partial+final aggregate. NULL vectors are
    excluded on both sides (they belong to no cluster; probe_nulls
    class 4)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull()).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    assigned = assign_cells(v, cent, ["e"]).select("vec_id", "e", "cid")
    sizes = assigned.groupBy("cid").agg(F.countDistinct("vec_id").alias("n_members"))
    comp = assigned.select(
        "cid", F.posexplode("e").alias("dim0", "val")
    ).select("cid", (F.col("dim0") + 1).alias("dim"), "val")
    means = comp.groupBy("cid", "dim").agg(
        F.round(
            split_sum16(F.col("val")) / F.count("*"), 9
        ).alias("centroid_val")
    )
    return means.join(sizes, "cid").select("cid", "dim", "centroid_val", "n_members")


N_PROBES = 2


@query(
    "q_sim_search_ivf_multiprobe",
    oracle=f"""
WITH cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM {_SQL_VECTORS}
              WHERE vec_id < {N_CENTROIDS} AND {_SQL_VEC_VALID}),
v AS (SELECT vec_id, label, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}),
scored AS (
  SELECT v.vec_id, v.label, v.e, cent.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC,
                                     cent.cid) AS rn
  FROM v, cent),
assigned AS (SELECT vec_id, label, e, cid FROM scored WHERE rn = 1),
qcells AS (
  SELECT cid FROM scored WHERE vec_id = {QUERY_VEC_ID} AND rn <= {N_PROBES}),
qe AS (SELECT e FROM v WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, a.cid,
       ROUND(list_cosine_similarity(a.e, qe.e), 6) AS cos_sim
FROM assigned a JOIN qcells ON a.cid = qcells.cid CROSS JOIN qe
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
""",
)
def q_sim_search_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF at the default dial (2 probes) — see ivf_search."""
    return ivf_search(spark, sf_dir, n_probes=N_PROBES)


def ivf_search(
    spark: SparkSession, sf_dir: str, n_probes: int = N_PROBES, top_k: int = TOP_K
) -> DataFrame:
    """Multi-probe IVF: search the query's top-``n_probes`` cells instead of
    one — the standard recall knob (probes trade linearly more data scanned
    for recall; cells remain the partition key, so each probe is a pruned
    partition read at scale). Candidate sets are nested in ``n_probes``, so
    recall@k against the exact scan is monotone nondecreasing —
    tests/test_properties.py pins that."""
    from pyspark.sql import Window as W

    v = _vectors(spark, sf_dir)
    cent = F.broadcast(
        v.filter((F.col("vec_id") < N_CENTROIDS) & F.col("e").isNotNull()).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    scored = (
        v.crossJoin(cent)
        .select("vec_id", "label", "e", "cid", cosine(F.col("e"), F.col("ce")).alias("sim"))
        .withColumn("rn", F.row_number().over(w))
    )
    assigned = scored.filter(F.col("rn") == 1).select("vec_id", "label", "e", "cid")
    qcells = F.broadcast(
        scored.filter((F.col("vec_id") == QUERY_VEC_ID) & (F.col("rn") <= n_probes)).select(
            F.col("cid").alias("qcid")
        )
    )
    qe = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )
    return (
        assigned.join(qcells, F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(qe)
        .select("vec_id", "label", "cid", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(top_k)
    )


@query("q_kmeans")  # rows-only: convergence-dependent iteration count
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means (Lloyd) to convergence: q_kmeans_step iterated until the
    assignment is stable (or 8 rounds). Iterative driver loop over
    declarative steps — each round is one broadcast assignment + one
    per-(cluster, dim) mean; centroids lineage-truncated each round
    (truncate_lineage: reliable checkpoint() when a checkpoint dir is
    configured, localCheckpoint otherwise) to truncate
    lineage. Output: final (cid, dim, centroid_val, n_members) rows.
    Rows-only (iteration count is data-dependent); the inertia-monotonicity
    property is asserted in tests/test_rows_only.py."""
    v = truncate_lineage(
        _vectors(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        )
    )
    cent = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    prev_assign = None
    for _ in range(8):
        assigned = assign_cells(v, F.broadcast(cent), ["e"]).select(
            "vec_id", "e", "cid"
        )
        assigned = truncate_lineage(assigned)
        if prev_assign is not None:
            changed = (
                assigned.select("vec_id", "cid")
                .exceptAll(prev_assign.select("vec_id", "cid"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
        prev_assign = assigned
        comp = assigned.select("cid", F.posexplode("e").alias("dim0", "val"))
        means = comp.groupBy("cid", "dim0").agg(
            F.round(
                split_sum16(F.col("val")) / F.count("*"),
                9,
            ).alias("cv")
        )
        cent = (
            means.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim0", "cv"))), lambda x: x["cv"]
                ).alias("ce")
            )
        )
        cent = truncate_lineage(cent)
    sizes = prev_assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    out = prev_assign.select("cid", F.posexplode("e").alias("dim0", "val")).groupBy(
        "cid", "dim0"
    ).agg(
        F.round(
            split_sum16(F.col("val")) / F.count("*"), 9
        ).alias("centroid_val")
    )
    return (
        out.select("cid", (F.col("dim0") + 1).alias("dim"), "centroid_val")
        .join(sizes, "cid")
    )


# ---------------------------------------------------------------------------
# embedding hygiene + batch ANN (round 2)
# ---------------------------------------------------------------------------

N_BATCH_QUERIES = 4
BATCH_TOP_K = 5


@query(
    "q_emb_normalize",
    oracle=f"""
WITH v AS (SELECT vec_id, label, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS})
SELECT vec_id, label,
       ROUND(sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)), 6)
         AS l2_norm,
       ROUND(list_reduce(e, (a, b) -> a + b)
             / NULLIF(sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)), 0), 6)
         AS unit_sum
FROM v
""",
)
def q_emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: per-vector L2 norm and the component sum of the
    unit-normalized vector (a deterministic checksum of the normalization —
    arrays themselves don't hash portably across engines, scalars do).
    Pure map over JVM array expressions; the fold (0 + x1 + x2 ...) is
    sequenced identically in both engines so no rounding divergence."""
    v = _vectors(spark, sf_dir)
    norm = F.sqrt(_dot(F.col("e"), F.col("e")))
    comp_sum = F.aggregate("e", F.lit(0.0), lambda a, x: a + x)
    # try_divide: a zero embedding vector would make 0.0/0.0 error under
    # Spark 4 ANSI; the oracle's NULLIF(norm, 0) yields NULL the same way
    # (CLAUDE.md rule: guard every data-dependent denominator).
    return v.select(
        "vec_id",
        "label",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.try_divide(comp_sum, norm), 6).alias("unit_sum"),
    )


@query(
    "q_emb_centroid",
    oracle=f"""
WITH v AS (SELECT label, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
           WHERE {_SQL_VEC_VALID}),
comp AS (
  SELECT label, dim, e[dim] AS val
  FROM v, (SELECT unnest(generate_series(1, {DIM})) AS dim))
SELECT label, CAST(dim AS INT) AS dim,
       ROUND({sql_split_sum16('val')} / COUNT(*), 9)
         AS centroid_val,
       COUNT(*) AS n_vectors
FROM comp GROUP BY label, dim
""",
)
def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids — the seed for IVF
    codebooks, probing-set selection, and drift monitoring): posexplode to
    (label, dim, val), one partial+final hash aggregate over (label, dim).
    Component sums go through split_sum16's 1e-16-grain split form so
    partial-agg order can't move the mean (same rule as q_kmeans_step). Shuffle is |labels|×DIM
    rows after map-side combine — constant in corpus size. NULL vectors
    are excluded on both sides (a centroid over absent vectors is
    undefined; probe_nulls class 4)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull())
    comp = v.select("label", F.posexplode("e").alias("dim0", "val"))
    return (
        comp.groupBy("label", (F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.round(
                split_sum16(F.col("val")) / F.count("*"),
                9,
            ).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


@query(
    "q_ann_batch",
    oracle=f"""
WITH v AS (SELECT vec_id, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
     WHERE {_SQL_VEC_VALID}),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_BATCH_QUERIES}),
db AS (SELECT vec_id, e FROM v WHERE vec_id >= {N_BATCH_QUERIES}),
scored AS (
  SELECT q.qid, db.vec_id,
         ROUND(list_cosine_similarity(db.e, q.qe), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY ROUND(list_cosine_similarity(db.e, q.qe), 6) DESC, db.vec_id) AS rn
  FROM db, q)
SELECT qid, vec_id, cos_sim FROM scored WHERE rn <= {BATCH_TOP_K}
""",
)
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving shape: top-k neighbors for a BATCH of query
    vectors in one pass — broadcast the Q queries against the corpus scan,
    per-query row_number window keeps k. One corpus scan serves all
    queries (vs Q scans of q_sim_search); the window partitions by query
    id, so state per partition is a k-heap. At 100 TB the same plan holds
    with the query batch as the broadcast side. NULL vectors are excluded
    on BOTH sides — query and corpus (a NULL query would otherwise emit a
    full top-k of -1.0 sentinel rows; probe_nulls class 4)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull())
    q = F.broadcast(
        v.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("e").alias("qe")
        )
    )
    db = v.filter(F.col("vec_id") >= N_BATCH_QUERIES)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        db.crossJoin(q)
        .select("qid", "vec_id", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BATCH_TOP_K)
        .select("qid", "vec_id", "cos_sim")
    )


# ---------------------------------------------------------------------------
# product quantization (the compressed-vector-store path)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_CODES = 16  # codewords per subspace (first 16 vectors' sub-vectors)


@query(
    "q_emb_pq",
    oracle=f"""
WITH v AS (SELECT vec_id, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
     WHERE {_SQL_VEC_VALID}),
sub AS (
  SELECT vec_id, m, e[(m * {PQ_SUBDIM} + 1):((m + 1) * {PQ_SUBDIM})] AS se
  FROM v, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)),
cb AS (SELECT vec_id AS code, m, se AS ce FROM sub WHERE vec_id < {PQ_CODES}),
scored AS (
  SELECT s.vec_id, s.m, cb.code,
         row_number() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(list_reduce(
                      list_transform(generate_series(1, {PQ_SUBDIM}),
                                     i -> (s.se[i] - cb.ce[i]) * (s.se[i] - cb.ce[i])),
                      (a, b) -> a + b), 6),
                    cb.code) AS rn
  FROM sub s JOIN cb ON s.m = cb.m)
SELECT vec_id, CAST(m AS INT) AS m, code FROM scored WHERE rn = 1
""",
)
def q_emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-d vector into 8 subspaces of 8
    dims; assign every sub-vector to the nearest of 16 codewords (the
    first 16 vectors' sub-vectors — a deterministic codebook, same stance
    as the IVF coarse quantizer). Output (vec_id, m, code): 8 bytes per
    vector instead of 256 — the compression that lets a 100 TB vector
    store fit hot in memory for ANN re-ranking.

    Plan: codebook broadcast (PQ_M × PQ_CODES rows), explode to
    sub-vectors, squared-L2 via zip_with + ordered fold, argmin via
    per-(vec, subspace) row_number — no shuffle of the corpus except the
    window's local sort. NULL vectors are excluded on both sides (squared
    L2 has no sentinel; a NULL distance would argmin to code 0 via the
    window's NULLS FIRST default; probe_nulls class 4)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull())
    subs = [
        F.struct(F.lit(m).alias("m"), F.slice("e", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("se"))
        for m in range(PQ_M)
    ]
    sub = v.select("vec_id", F.explode(F.array(*subs)).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.se").alias("se")
    )
    cb = F.broadcast(
        sub.filter(F.col("vec_id") < PQ_CODES).select(
            F.col("vec_id").alias("code"), F.col("m").alias("m_cb"), F.col("se").alias("ce")
        )
    )
    sqdist = F.round(
        F.aggregate(
            F.zip_with("se", "ce", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.col("d2").asc(), F.col("code").asc())
    return (
        sub.join(cb, F.col("m") == F.col("m_cb"))
        .select("vec_id", "m", "code", sqdist.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("m").cast("int").alias("m"), "code")
    )


# ---------------------------------------------------------------------------
# IVF-PQ combined search (ADC: coarse cells + residual product codes)
# ---------------------------------------------------------------------------

# One ordered-fold squared-L2 between two equal-length lists, SQL side —
# matches Spark's zip_with + aggregate fold order term-for-term.
def _sql_l2(a: str, b: str, n: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {n}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


@query(
    "q_sim_search_ivfpq",
    oracle=f"""
WITH cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM {_SQL_VECTORS} WHERE vec_id < {N_CENTROIDS} AND {_SQL_VEC_VALID}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {_SQL_VECTORS}
      WHERE {_SQL_VEC_VALID} AND vec_id IS NOT NULL),
scored AS (
  SELECT v.vec_id, v.e, cent.cid, cent.ce,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC, cent.cid) AS rn
  FROM v, cent),
assigned AS (
  SELECT vec_id, cid,
         list_transform(generate_series(1, {DIM}), i -> e[i] - ce[i]) AS r
  FROM scored WHERE rn = 1),
sub AS (
  SELECT vec_id, cid, m, r[(m * {PQ_SUBDIM} + 1):((m + 1) * {PQ_SUBDIM})] AS rs
  FROM assigned, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)),
cb AS (SELECT vec_id AS code, m, rs AS cce FROM sub WHERE vec_id < {PQ_CODES}),
coded AS (
  SELECT s.vec_id, s.cid, s.m, cb.code,
         row_number() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY ROUND({_sql_l2('s.rs', 'cb.cce', PQ_SUBDIM)}, 6), cb.code) AS rn
  FROM sub s JOIN cb ON s.m = cb.m),
codes AS (SELECT vec_id, cid, m, code FROM coded WHERE rn = 1),
qsub AS (SELECT cid AS qcid, m, rs AS qrs FROM sub WHERE vec_id = {QUERY_VEC_ID}),
lut AS (
  SELECT q.qcid, q.m, cb.code,
         LEAST(ROUND({_sql_l2('q.qrs', 'cb.cce', PQ_SUBDIM)}, 6), 1.0e9) AS qd2
  FROM qsub q JOIN cb ON q.m = cb.m),
adc AS (
  SELECT c.vec_id, c.cid,
         CAST(SUM(CAST(l.qd2 AS DECIMAL(28,6))) AS DOUBLE) AS adc_d2
  FROM codes c JOIN lut l ON c.cid = l.qcid AND c.m = l.m AND c.code = l.code
  WHERE c.vec_id <> {QUERY_VEC_ID}
  GROUP BY c.vec_id, c.cid),
top AS (SELECT * FROM adc ORDER BY adc_d2 ASC, vec_id ASC LIMIT {TOP_K}),
q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID})
SELECT t.vec_id, t.cid AS cell, t.adc_d2,
       ROUND({_sql_l2('a.e', 'q.qe', DIM)}, 6) AS exact_d2
FROM top t JOIN v a ON a.vec_id = t.vec_id, q
ORDER BY t.adc_d2 ASC, t.vec_id ASC
""",
)
def q_sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the combined form a production vector store
    actually runs (FAISS's IVFADC shape): coarse cells bound WHERE to
    look, residual product codes bound WHAT each candidate costs to
    score. Index build: assign every vector to its coarse cell
    (broadcast argmax, the shared assign_cells aggregate), take the
    RESIDUAL e − centroid (residual PQ — the standard trick: residuals
    have ~k× smaller spread than raw vectors, so the same code budget
    quantizes finer), and code each residual sub-vector against a
    deterministic first-PQ_CODES codebook (same stand-in stance as the
    IVF/PQ siblings). Search: the query probes its own cell; an
    asymmetric-distance LUT (query residual sub-vector × every codeword:
    PQ_M·PQ_CODES = 128 rounded squared-L2 entries, broadcast) prices
    every candidate as a SUM of 8 table lookups — the candidate's full
    vector is never touched at search time. The 8-term ADC sum runs
    through DECIMAL(28,6) (each term pre-rounded to 6, so the decimal is
    exact and the sum order-free — a raw double SUM over a group is
    aggregation-order-dependent and diverges cross-engine). Top-K by
    (adc_d2 ASC, vec_id) is a TakeOrderedAndProject heap; the k-bounded
    winners join back (broadcast) for their EXACT distance so the output
    shows the per-hit ADC approximation error. Identity-less vectors are
    quarantined (assignment and coding group ON vec_id — the r13
    identity-grain rule for argmax-by-id operators). At 100 TB: codes
    are PQ_M bytes per vector (the whole searchable index for 10^9
    vectors fits in a few GB per worker), the LUT is 128 doubles, and
    the only per-candidate work is a partition-local hash-join +
    8-lookup sum — scan-free, shuffle-free search inside the probed
    cell."""
    v = (
        _vectors(spark, sf_dir)
        .filter(F.col("e").isNotNull())  # ids non-NULL by _vectors' grain
        .select("vec_id", "e")
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    assigned = (
        assign_cells(v, cent, ["e"])
        .join(cent, "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with("e", "ce", lambda x, y: x - y).alias("r"),
        )
    )
    subs = [
        F.struct(
            F.lit(m).alias("m"),
            F.slice("r", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("rs"),
        )
        for m in range(PQ_M)
    ]
    sub = assigned.select(
        "vec_id", "cid", F.explode(F.array(*subs)).alias("s")
    ).select("vec_id", "cid", F.col("s.m").alias("m"), F.col("s.rs").alias("rs"))
    # the sub relation fans out to the codebook, the query LUT, and the
    # candidate coding — materialize once (r11/r12 fan-out class)
    sub = truncate_lineage(sub)
    cb = F.broadcast(
        sub.filter(F.col("vec_id") < PQ_CODES).select(
            F.col("vec_id").alias("code"),
            F.col("m").alias("m_cb"),
            F.col("rs").alias("cce"),
        )
    )
    sq = lambda a, b: F.round(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    codes = (
        sub.join(cb, F.col("m") == F.col("m_cb"))
        .select("vec_id", "cid", "m", "code", sq("rs", "cce").alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "m", "code")
    )
    qsub = sub.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("cid").alias("qcid"), F.col("m").alias("qm"), F.col("rs").alias("qrs")
    )
    # LUT entries saturate at 1e9: the pre-rounded-6-decimal → DECIMAL(28,6)
    # ADC sum is engine-agreeing only while d·1e6 round-trips the IEEE
    # multiply (|d| ≲ 4.5e9 — above it DuckDB's scaled-binary conversion
    # can land one grain off Spark's repr-based cast, r14 class-24
    # re-derivation of this route's domain).  In-domain components
    # (|x| < 1e6) can legally push a residual term to 3.2e13, but a
    # candidate that far never contests the top-k, so saturation is
    # ranking-neutral where it matters and keeps the route deterministic.
    lut = F.broadcast(
        qsub.join(cb, F.col("qm") == F.col("m_cb")).select(
            "qcid",
            F.col("qm"),
            F.col("code").alias("qcode"),
            F.least(sq("qrs", "cce"), F.lit(1.0e9)).alias("qd2"),
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            lut,
            (F.col("cid") == F.col("qcid"))
            & (F.col("m") == F.col("qm"))
            & (F.col("code") == F.col("qcode")),
        )
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(F.col("qd2").cast("decimal(28,6)"))
            .cast("double")
            .alias("adc_d2")
        )
    )
    top = F.broadcast(
        adc.orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc()).limit(TOP_K)
    )
    qe = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )
    return (
        top.join(v, "vec_id")
        .crossJoin(qe)
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            "adc_d2",
            sq("e", "qe").alias("exact_d2"),
        )
        .orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF path vs brute force
# ---------------------------------------------------------------------------


@query(
    "q_ann_recall",
    oracle=f"""
WITH v AS (SELECT vec_id, {_SQL_VEC_E} AS e FROM {_SQL_VECTORS}
     WHERE {_SQL_VEC_VALID}),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_BATCH_QUERIES}),
db AS (SELECT vec_id, e FROM v WHERE vec_id >= {N_BATCH_QUERIES}),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, db.vec_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY ROUND(list_cosine_similarity(db.e, q.qe), 6) DESC,
                      db.vec_id) AS rn
    FROM db, q)
  WHERE rn <= {BATCH_TOP_K}),
cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
assigned AS (
  SELECT vec_id, e, cid FROM (
    SELECT db.vec_id, db.e, cent.cid,
           row_number() OVER (PARTITION BY db.vec_id
             ORDER BY ROUND(list_cosine_similarity(db.e, cent.ce), 6) DESC,
                      cent.cid) AS rn
    FROM db, cent)
  WHERE rn = 1),
qcell AS (
  SELECT qid, qe, cid FROM (
    SELECT q.qid, q.qe, cent.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY ROUND(list_cosine_similarity(q.qe, cent.ce), 6) DESC,
                      cent.cid) AS rn
    FROM q, cent)
  WHERE rn = 1),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qc.qid, a.vec_id,
           row_number() OVER (PARTITION BY qc.qid
             ORDER BY ROUND(list_cosine_similarity(a.e, qc.qe), 6) DESC,
                      a.vec_id) AS rn
    FROM assigned a JOIN qcell qc ON a.cid = qc.cid)
  WHERE rn <= {BATCH_TOP_K})
SELECT ex.qid,
       CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hit,
       -- raw IEEE quotient of exact counts (no ROUND; round-10 finding)
       CAST(COUNT(ap.vec_id) AS DOUBLE) / {BATCH_TOP_K}
         AS recall_at_k
FROM exact ex
LEFT JOIN approx ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
GROUP BY ex.qid
ORDER BY ex.qid
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@k of the IVF cell search against the
    brute-force ground truth, per query — the evaluation every production
    vector index needs before its recall/cost dial (probe count, cell
    count) is trusted. One corpus scan feeds BOTH paths: the exact top-k
    (broadcast query batch + per-query k-heap window) and the IVF path
    (nearest-centroid assignment, query routed to its cell, top-k within
    the cell). The hit test is a join on (qid, vec_id) between two
    k-bounded relations — tiny regardless of corpus size. At 100 TB the
    exact side is the expensive one BY DESIGN (it's the ground truth you
    sample, not serve): run it over a fixed query sample, as here.
    NULL vectors are excluded on both sides — a NULL query would
    otherwise report a phantom recall=0 row (probe_nulls class 4)."""
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull())
    q = F.broadcast(
        v.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("e").alias("qe")
        )
    )
    db = v.filter(F.col("vec_id") >= N_BATCH_QUERIES).select("vec_id", "e")
    wq = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    exact = (
        db.crossJoin(q)
        .select("qid", "vec_id", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BATCH_TOP_K)
        .select("qid", "vec_id")
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("cid"))
    assigned = (
        db.crossJoin(cent)
        .select("vec_id", "e", "cid", cosine(F.col("e"), F.col("ce")).alias("c_sim"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "cid")
    )
    wqc = Window.partitionBy("qid").orderBy(F.col("c_sim").desc(), F.col("cid"))
    qcell = F.broadcast(
        q.crossJoin(cent)
        .select("qid", "qe", "cid", cosine(F.col("qe"), F.col("ce")).alias("c_sim"))
        .withColumn("rn", F.row_number().over(wqc))
        .filter(F.col("rn") == 1)
        .select("qid", "qe", F.col("cid").alias("qcid"))
    )
    approx = (
        assigned.join(qcell, F.col("cid") == F.col("qcid"))
        .select("qid", "vec_id", cosine(F.col("e"), F.col("qe")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BATCH_TOP_K)
        .select("qid", F.col("vec_id").alias("a_vec_id"), F.lit(1).alias("hit"))
    )
    # approx is k-bounded per query by construction; the planner can't see
    # that through the window filter, so the broadcast is explicit.
    return (
        exact.join(
            F.broadcast(approx),
            (exact.qid == approx.qid) & (exact.vec_id == F.col("a_vec_id")),
            "left",
        )
        .groupBy(exact.qid)
        .agg(
            F.count("hit").cast("bigint").alias("n_hit"),
            (F.count("hit").cast("double") / BATCH_TOP_K).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


@query(
    "q_emb_drift",
    oracle=f"""
WITH v AS (SELECT vec_id % 2 AS grp, {_SQL_VEC_E} AS e
           FROM {_SQL_VECTORS} WHERE {_SQL_VEC_VALID}),
comp AS (
  SELECT grp, dim,
         ROUND({sql_split_sum16('e[dim]')}
               / COUNT(*), 9) AS c
  FROM v, (SELECT unnest(generate_series(1, {DIM})) AS dim)
  GROUP BY grp, dim),
paired AS (
  SELECT a.dim, a.c AS ca, b.c AS cb
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.grp = 0 AND b.grp = 1),
sums AS (
  SELECT {sql_split_sum16('ca * cb')} AS dot,
         {sql_split_sum16('ca * ca')} AS na,
         {sql_split_sum16('cb * cb')} AS nb
  FROM paired)
SELECT ROUND(dot / NULLIF(sqrt(na) * sqrt(nb), 0), 6) AS centroid_cosine,
       ROUND(sqrt(na), 6) AS ref_norm,
       ROUND(sqrt(nb), 6) AS batch_norm
FROM sums
""",
)
def q_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into a
    reference half and a 'new batch' half (vec_id parity stands in for
    yesterday/today), compute each half's mean vector with the decimal
    component route, and report the cosine between the two centroids plus
    both centroid norms — the cheapest early-warning that an upstream
    encoder changed or the data distribution moved (cosine ≪ 1 = drift).
    Everything after the per-(group, dim) aggregate is a 2×DIM relation;
    the term sums go through decimal so the metric is partition-count
    invariant, which a drift ALERT must be (a threshold that flickers
    with task scheduling pages someone at 3am for nothing)."""
    # identity-grain source (r13): the oracle's v CTE reads _SQL_VECTORS,
    # so the Spark side must dedup/quarantine identically
    v = (
        _vectors(spark, sf_dir)
        .filter(F.col("e").isNotNull())
        .select((F.col("vec_id") % 2).alias("grp"), "e")
    )
    comp = (
        v.select("grp", F.posexplode("e").alias("dim0", "val"))
        .groupBy("grp", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.round(
                split_sum16(F.col("val"))
                / F.count(F.lit(1)),
                9,
            ).alias("c")
        )
    )
    a = comp.filter(F.col("grp") == 0).select("dim", F.col("c").alias("ca"))
    b = comp.filter(F.col("grp") == 1).select(
        F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    paired = a.join(F.broadcast(b), F.col("dim") == F.col("dim_b"))
    sums = paired.agg(
        split_sum16((F.col("ca") * F.col("cb")))
        .alias("dot"),
        split_sum16((F.col("ca") * F.col("ca")))
        .alias("na"),
        split_sum16((F.col("cb") * F.col("cb")))
        .alias("nb"),
    )
    return sums.select(
        F.round(
            F.try_divide(F.col("dot"), F.sqrt("na") * F.sqrt("nb")), 6
        ).alias("centroid_cosine"),
        F.round(F.sqrt("na"), 6).alias("ref_norm"),
        F.round(F.sqrt("nb"), 6).alias("batch_norm"),
    )


# ---------------------------------------------------------------------------
# matryoshka (truncated-dimension) retrieval — the MRL efficiency dial
# ---------------------------------------------------------------------------

MRL_DIM = 16  # leading dims used for the cheap ranking (of DIM=64)


@query(
    "q_sim_mrl",
    oracle=f"""
WITH q AS (SELECT {_SQL_VEC_E} AS qe
           FROM {_SQL_VECTORS} WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  -- COALESCE to the -1.0 sentinel exactly like Spark's cosine(): an
  -- invalid vector must rank identically on both engines even when the
  -- LIMIT cut falls inside the -1 band (DuckDB would otherwise place
  -- NULL below a GENUINE -1.0 cosine while Spark ties them at -1.0 —
  -- round-11 review finding)
  SELECT vec_id,
         COALESCE(ROUND(list_cosine_similarity(
           {_SQL_VEC_E}[1:{MRL_DIM}],
           qe[1:{MRL_DIM}]), 6), -1.0) AS cos_trunc,
         COALESCE(ROUND(list_cosine_similarity(
           {_SQL_VEC_E}, qe), 6), -1.0) AS cos_full
  FROM {_SQL_VECTORS}, q WHERE vec_id <> {QUERY_VEC_ID}),
topk AS (SELECT * FROM scored ORDER BY cos_trunc DESC, vec_id LIMIT {TOP_K}),
exact AS (SELECT vec_id FROM scored ORDER BY cos_full DESC, vec_id LIMIT {TOP_K})
SELECT t.vec_id, t.cos_trunc, t.cos_full,
       (e.vec_id IS NOT NULL) AS in_exact_topk
FROM topk t LEFT JOIN exact e ON t.vec_id = e.vec_id
ORDER BY t.cos_trunc DESC, t.vec_id
""",
)
def q_sim_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval (MRL-style): rank by cosine over only the
    LEADING MRL_DIM=16 of 64 dimensions — the truncation dial
    matryoshka-trained embeddings expose (4× less arithmetic and 4× less
    vector I/O per comparison) — and report, for the truncated top-k,
    the full-dimension cosine and whether each hit is in the exact
    full-dim top-k (the per-row recall readout, same evaluation shape as
    q_ann_recall). Both rankings broadcast the single query vector and
    fold JVM-side (q_sim_search's plan); at 100 TB the truncated pass is
    the cheap first stage over the whole corpus and the full-dim rerank
    touches only its candidates. Invalid vectors ride the shared
    quarantine (vec_valid → NULL → sentinel/NULL sorts to the bottom of
    both engines' DESC order, outside any realistic top-k)."""
    v = _vectors(spark, sf_dir)
    q = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )
    scored = (
        v.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            cosine(
                F.slice(F.col("e"), 1, MRL_DIM), F.slice(F.col("qe"), 1, MRL_DIM)
            ).alias("cos_trunc"),
            cosine(F.col("e"), F.col("qe")).alias("cos_full"),
        )
    )
    topk = scored.orderBy(F.col("cos_trunc").desc(), "vec_id").limit(TOP_K)
    exact = (
        scored.orderBy(F.col("cos_full").desc(), "vec_id")
        .limit(TOP_K)
        .select(F.col("vec_id").alias("x_id"))
    )
    return (
        topk.join(F.broadcast(exact), topk.vec_id == F.col("x_id"), "left")
        .select(
            "vec_id",
            "cos_trunc",
            "cos_full",
            F.col("x_id").isNotNull().alias("in_exact_topk"),
        )
        .orderBy(F.col("cos_trunc").desc(), "vec_id")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — the third compression dial next to PQ
# (subspace codebooks) and MRL (dimension truncation)
# ---------------------------------------------------------------------------

# Quantization is floor(x/s*127 + 0.5): floor of an IEEE double is
# engine-identical INCLUDING at exact-half boundaries (no HALF_UP-vs-
# banker's divergence — the decimal-halfway class that bans ROUND on
# quotients never enters), and with s = corpus max |component| the code
# domain is exactly [-127, 127] with no clamp (x=s gives floor(127.5)=127,
# x=-s gives floor(-126.5)=-127).
SQ8_LEVELS = 127


def _sq8_quant(x, s):
    """One component's int8 code under scale ``s`` (0 when the corpus is
    all-zero/empty — the s>0 guard keeps ANSI division out of reach)."""
    return F.when(
        s > 0, F.floor(x / s * F.lit(float(SQ8_LEVELS)) + F.lit(0.5))
    ).otherwise(F.lit(0.0))


@query(
    "q_emb_sq8",
    oracle=f"""
WITH v AS (SELECT vec_id, {_SQL_VEC_E} AS e
           FROM {_SQL_VECTORS}),
s AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS s
      FROM v WHERE e IS NOT NULL),
rec AS (
  SELECT vec_id, e,
         list_transform(e, x ->
           (CASE WHEN s.s > 0 THEN floor(x / s.s * {SQ8_LEVELS}.0 + 0.5)
                 ELSE 0.0 END) * s.s / {SQ8_LEVELS}.0) AS r
  FROM v, s),
err AS (
  SELECT max(list_max(list_transform(list_zip(e, r),
        p -> abs(p[1] - p[2])))) AS max_abs_err
  FROM rec WHERE e IS NOT NULL),
q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT rec.vec_id,
         COALESCE(ROUND(list_cosine_similarity(rec.r, q.qe), 6), -1.0) AS cos_sq8,
         COALESCE(ROUND(list_cosine_similarity(rec.e, q.qe), 6), -1.0) AS cos_full
  FROM rec, q WHERE rec.vec_id <> {QUERY_VEC_ID}),
topk AS (SELECT * FROM scored ORDER BY cos_sq8 DESC, vec_id LIMIT {TOP_K}),
exact AS (SELECT vec_id FROM scored ORDER BY cos_full DESC, vec_id LIMIT {TOP_K})
SELECT t.vec_id, t.cos_sq8, t.cos_full,
       (x.vec_id IS NOT NULL) AS in_exact_topk,
       err.max_abs_err
FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id, err
ORDER BY t.cos_sq8 DESC, t.vec_id
""",
)
def q_emb_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (SQ8) with its quality readout — the
    compression dial every production vector store ships alongside PQ
    (q_emb_pq, subspace codebooks) and MRL truncation (q_sim_mrl): one
    global scale s = max |component|, each component stored as
    floor(x/s·127 + 0.5) ∈ [-127, 127] (4× smaller than float32, 8× than
    float64), search ASYMMETRIC (full-precision query against
    reconstructed int8 corpus — the standard SQ serving shape). Output:
    the SQ8 top-k for the family's fixed query with each hit's
    full-precision cosine, whether it survives in the exact top-k (the
    per-row recall readout, q_sim_mrl's shape), and the corpus-wide
    max_abs_err reconstruction bound (constant per row — max is a
    SELECTION of identically-computed doubles, so it needs no decimal
    route). Quantize/reconstruct is a scan-side projection (zero
    shuffles); the scale and the error bound are broadcast 1-row
    aggregates; the rankings are the TakeOrderedAndProject heaps of the
    sim-search family. floor(x + 0.5) (not ROUND) keeps the halfway class
    out: floor of a double is engine-identical everywhere. Invalid
    vectors quarantine through the shared NULL→-1.0 sentinel; an
    all-zero reconstruction hits DuckDB's native -1.0 zero-norm return,
    which Spark's cosine() mirrors."""
    # materialized once: v fans out to the scale aggregate, the
    # reconstruction, the query-vector broadcast, and (via rec) the error
    # bound and both rankings — the same fan-out its q_index_versioned
    # sibling checkpoints (r14 review); ~5 executions of the identity-
    # grain dedup pipeline without it.
    v = truncate_lineage(_vectors(spark, sf_dir).select("vec_id", "e"))
    s_df = F.broadcast(
        v.filter(F.col("e").isNotNull()).agg(
            F.max(F.array_max(F.transform("e", F.abs))).alias("s")
        )
    )
    sc = F.col("s")
    rec = v.crossJoin(s_df).select(
        "vec_id",
        "e",
        F.transform(
            "e", lambda x: _sq8_quant(x, sc) * sc / F.lit(float(SQ8_LEVELS))
        ).alias("r"),
    )
    err_df = F.broadcast(
        rec.filter(F.col("e").isNotNull()).agg(
            F.max(
                F.array_max(
                    F.zip_with("e", "r", lambda x, r: F.abs(x - r))
                )
            ).alias("max_abs_err")
        )
    )
    q = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )
    scored = (
        rec.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            cosine(F.col("r"), F.col("qe")).alias("cos_sq8"),
            cosine(F.col("e"), F.col("qe")).alias("cos_full"),
        )
    )
    topk = scored.orderBy(F.col("cos_sq8").desc(), "vec_id").limit(TOP_K)
    exact = (
        scored.orderBy(F.col("cos_full").desc(), "vec_id")
        .limit(TOP_K)
        .select(F.col("vec_id").alias("x_id"))
    )
    return (
        topk.join(F.broadcast(exact), topk.vec_id == F.col("x_id"), "left")
        .crossJoin(err_df)
        .select(
            "vec_id",
            "cos_sq8",
            "cos_full",
            F.col("x_id").isNotNull().alias("in_exact_topk"),
            "max_abs_err",
        )
        .orderBy(F.col("cos_sq8").desc(), "vec_id")
    )


# ---------------------------------------------------------------------------
# persisted, VERSIONED vector index (tablelog × SQ8)
# ---------------------------------------------------------------------------


def _sq8_codes(v: DataFrame) -> DataFrame:
    """(vec_id, codes ARRAY<INT>, s): the persistable SQ8 index relation
    for one index GENERATION — scale s = the generation corpus's max
    |component| (denormalized onto every row so a file is
    self-describing), codes = floor(x/s·127 + 0.5) as INT (int8 domain;
    parquet stores them dictionary-/bitpack-encoded, so the on-disk
    footprint is the int8 promise even through the INT logical type)."""
    val = v.filter(F.col("e").isNotNull())
    s_df = F.broadcast(
        val.agg(F.max(F.array_max(F.transform("e", F.abs))).alias("s"))
    )
    return val.crossJoin(s_df).select(
        "vec_id",
        F.transform(
            "e", lambda x: _sq8_quant(x, F.col("s")).cast("int")
        ).alias("codes"),
        "s",
    )


def _sq8_codes_from_scale(
    rows: DataFrame, scales: DataFrame, s_col: str
) -> DataFrame:
    """``_sq8_codes`` with the scale supplied as a pre-aggregated 1-row
    relation instead of re-aggregated per call — q_index_versioned
    computes BOTH generations' scales in one aggregate and lands the
    generations concurrently (r14 VERDICT #6). The quantize expression is
    byte-identical to ``_sq8_codes``'s (pinned in
    tests/test_dedup_near.py)."""
    return rows.crossJoin(
        F.broadcast(scales.select(F.col(s_col).alias("s")))
    ).select(
        "vec_id",
        F.transform(
            "e", lambda x: _sq8_quant(x, F.col("s")).cast("int")
        ).alias("codes"),
        "s",
    )


def _index_versioned_gen_sql(src: str, alias: str) -> str:
    """One generation's reconstruct + top-k rank CTEs (gen relation
    ``src`` must expose (vec_id, e)); emits CTEs ``s_{alias}``,
    ``r_{alias}``, ``t_{alias}``."""
    return f"""s_{alias} AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS s FROM {src}),
r_{alias} AS (
  SELECT vec_id,
         list_transform(e, x ->
           (CASE WHEN s_{alias}.s > 0 THEN floor(x / s_{alias}.s * {SQ8_LEVELS}.0 + 0.5)
                 ELSE 0.0 END) * s_{alias}.s / {SQ8_LEVELS}.0) AS r
  FROM {src}, s_{alias}),
t_{alias} AS (
  SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank,
         vec_id, cos
  FROM (SELECT rr.vec_id,
               COALESCE(ROUND(list_cosine_similarity(rr.r, q.qe), 6), -1.0) AS cos
        FROM r_{alias} rr, q WHERE rr.vec_id <> {QUERY_VEC_ID})
  ORDER BY cos DESC, vec_id LIMIT {TOP_K})"""


@query(
    "q_index_versioned",
    oracle=f"""
WITH v AS (SELECT vec_id, {_SQL_VEC_E} AS e
           FROM {_SQL_VECTORS}),
vv AS (SELECT vec_id, e FROM v WHERE e IS NOT NULL),
q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
g1 AS (SELECT vec_id, e FROM vv WHERE vec_id % 2 = 0),
{_index_versioned_gen_sql("vv", "g2")},
{_index_versioned_gen_sql("g1", "g1")}
SELECT COALESCE(t_g2.rank, t_g1.rank) AS rank,
       t_g2.vec_id AS vec_id_latest, t_g2.cos AS cos_latest,
       t_g1.vec_id AS vec_id_v0, t_g1.cos AS cos_v0,
       (t_g2.vec_id IS NOT DISTINCT FROM t_g1.vec_id) AS same_hit
FROM t_g2 FULL JOIN t_g1 ON t_g1.rank = t_g2.rank
""",
)
def q_index_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted VERSIONED vector index — the tablelog commit protocol
    (sources/tablelog.py: CAS-claimed commits, snapshot isolation, time
    travel) carrying the SQ8 index family (q_emb_sq8): index generation 1
    (the even-vec_id half of the corpus — a backfill-in-progress build)
    lands as data file + commit 0; the full-corpus REBUILD lands as
    commit 1, a rewrite that removes generation 1's file — exactly how a
    production store versions an ANN index so serving can pin a
    generation, a rebuild is atomic, and an index regression can be
    diffed against the prior generation (the VERDICT r13 ask: join the
    table-format and vector subsystems).  Search reads the LATEST
    snapshot through live_files() and the v0 generation through
    time-travel, reconstructs each from its own persisted (codes, s),
    and reports both top-k rankings side by side with a per-rank
    same_hit diff.  The ORACLE recomputes both generations analytically
    from the embeddings table, so parity proves the persisted
    round-trip (quantize → parquet → commit → snapshot/time-travel read
    → reconstruct) byte-preserving end to end.  Scale: codes are int8 ×
    DIM per vector (the 10^9-vector index fits per-worker memory), the
    commit log is metadata-sized, and each generation's search is the
    sim-search family's broadcast + TakeOrderedAndProject shape.
    Identity grain via _vectors; evenness via % 2 = 0, which Spark and
    DuckDB agree on for negative ids (both yield 0 for even negatives —
    no pmod needed for an evenness test)."""
    from pyspark.sql import Window

    from kinesis_test_spark.sources.formats import _land_single
    from kinesis_test_spark.sources.tablelog import commit, live_files, schema_ddl
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    tdir = scratch_dir("q_index_versioned") / "index"
    tdir.mkdir(parents=True, exist_ok=True)
    # materialize the identity-grain relation ONCE: each _sq8_codes call
    # executes its input twice (scale aggregate + crossJoin side) and the
    # function runs for g1, g2, and the query vector — without the
    # checkpoint that is ~5 executions of the dedup pipeline (the
    # r12 keeper-build fan-out class, caught again by the r14 review).
    v = truncate_lineage(_vectors(spark, sf_dir).select("vec_id", "e"))

    # ONE aggregate computes BOTH generations' scales (they differ only
    # in scope: g1 = the even-vec_id backfill, g2 = the full corpus) and
    # is checkpointed so each generation's code build reads the 1-row
    # result instead of re-executing the max — and the two generation
    # landings are independent until the commits, so they run
    # CONCURRENTLY (guide §2.6: overlap independent jobs; the second
    # job's tasks back-fill the first's tail). The commits stay ordered
    # afterwards: the log is still g1 = version 0, g2 = version 1.
    # Values are identical to the per-generation _sq8_codes form: the
    # conditional max over the full relation equals the max over the
    # filtered relation, and the quantize expression is unchanged.
    val = v.filter(F.col("e").isNotNull())
    _maxabs = F.array_max(F.transform("e", F.abs))
    scales = truncate_lineage(
        val.agg(
            F.max(F.when(F.expr("vec_id % 2 = 0"), _maxabs)).alias("s_g1"),
            F.max(_maxabs).alias("s_g2"),
        )
    )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        g1 = pool.submit(
            _land_single,
            _sq8_codes_from_scale(
                val.filter(F.expr("vec_id % 2 = 0")), scales, "s_g1"
            ),
            tdir / "codes_g1.parquet",
        )
        g2 = pool.submit(
            _land_single,
            _sq8_codes_from_scale(val, scales, "s_g2"),
            tdir / "codes_g2.parquet",
        )
        g1.result()
        g2.result()
    commit(
        tdir,
        adds=["codes_g1.parquet"],
        removes=[],
        schema=[["vec_id", "BIGINT"], ["codes", "ARRAY<INT>"], ["s", "DOUBLE"]],
        meta={"generation": 1, "scope": "even-vec_id backfill"},
    )
    commit(
        tdir,
        adds=["codes_g2.parquet"],
        removes=["codes_g1.parquet"],
        meta={"generation": 2, "scope": "full-corpus rebuild"},
    )

    q = F.broadcast(
        v.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    )

    def search(version: int | None) -> DataFrame:
        codes = spark.read.schema(schema_ddl(tdir, version)).parquet(
            *live_files(tdir, version)
        )
        rec = codes.select(
            "vec_id",
            F.expr(f"transform(codes, c -> c * s / {SQ8_LEVELS}.0)").alias("r"),
        )
        scored = (
            rec.filter(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(q)
            .select("vec_id", cosine(F.col("r"), F.col("qe")).alias("cos"))
        )
        top = scored.orderBy(F.col("cos").desc(), "vec_id").limit(TOP_K)
        w = Window.orderBy(F.col("cos").desc(), "vec_id")
        return top.select(F.row_number().over(w).alias("rank"), "vec_id", "cos")

    cur, old = search(None).alias("c"), search(0).alias("o")
    return cur.join(old, "rank", "full").select(
        "rank",
        F.col("c.vec_id").alias("vec_id_latest"),
        F.col("c.cos").alias("cos_latest"),
        F.col("o.vec_id").alias("vec_id_v0"),
        F.col("o.cos").alias("cos_v0"),
        F.col("c.vec_id").eqNullSafe(F.col("o.vec_id")).alias("same_hit"),
    )
