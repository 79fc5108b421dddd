"""Deduplication operators — exact and near-duplicate detection.

The reference's dedup is the sequence-number gate at
/root/reference/consumer.py:292-303 (batch-granularity duplicate
suppression). The engine generalizes it into the dedup family a
training-data pipeline needs (NS mandate):

  * q_dedup_exact        — exact row dedup (hash groupBy / dropDuplicates)
  * q_dedup_minhash      — MinHash + LSH banding (shingle → minhash →
                           band → bucket join → candidate pairs)
  * q_dedup_simhash      — 16-bit SimHash fingerprints
  * q_dedup_ngram_jaccard— exact word-3-gram Jaccard over candidate pairs
  * q_dedup_embedding    — embedding-cosine near-dup within a blocking key

Scale notes: the MinHash/LSH pipeline is the canonical 100 TB design —
cost is O(rows × shingles × seeds) map-side plus a shuffle keyed on band
signature; candidate verification touches only bucket collisions, never
the n² pair space. Exact-jaccard does the shared-shingle join (inverted
index) — correct at moderate scale, and the stepping stone the LSH path
prunes. Embedding near-dup uses a blocking key (label — stand-in for a
coarse quantization cell) to bound the pair space; the brute-force path
without blocking is operators/similarity.py.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.porthash import (
    ascii_lower,
    ascii_upper,
    spark_hex16,
    sql_ascii_lower,
    sql_ascii_upper,
)
from kinesis_test_spark.iterate import truncate_lineage
from kinesis_test_spark.operators.similarity import (
    _SQL_VEC_E, _SQL_VEC_VALID, _dot, sql_vec_e, vec_valid
)
from kinesis_test_spark.functions.exact import cents_term, sql_exact_sum
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import SQL_UNIQUE_DOCS, t, unique_docs

N_SEEDS = 8
N_BANDS = 4  # rows-per-band = 2
MINHASH_THRESHOLD = 0.5
JACCARD_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.4
# Inverted-index hot-key guard: shingles appearing in more than this many
# documents are stop-shingles — each contributes df² candidate pairs to the
# self-join, the one quadratic tail in the dedup family. Dropping them from
# BOTH the index and the per-doc sizes keeps Jaccard exact over the capped
# shingle universe (stop-word removal semantics). 64 > the max observed df
# at every test SF (25 at sf0.1), so test results are unchanged; at corpus
# scale the hot set is tiny by construction and broadcast-anti-joined away.
NGRAM_DF_CAP = 64

# ---------------------------------------------------------------------------
# shared shingle SQL (DuckDB oracle side)
# ---------------------------------------------------------------------------

SQL_SHINGLES = """
shingles AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS w
          FROM (SELECT DISTINCT doc_id, text FROM documents
                WHERE doc_id IS NOT NULL))))
"""

# One exact-Jaccard rule per engine. The stop-shingle cap, the
# inverted-index overlap count, the Jaccard score and threshold and the
# connected-components labeling are each spelled once: SQL_KEPT /
# SQL_JACCARD / sql_components for the oracles, _apply_df_cap / _overlaps /
# min_label_components for Spark. Every exact-Jaccard consumer (the pair
# list, clusters, keeplist, keep_best, degree, verify, eval, containment,
# contamination, pipeline_clean, substring clusters) calls them.

_SQL_CAP = f"""hot AS (SELECT s FROM shingles GROUP BY s HAVING COUNT(*) > {NGRAM_DF_CAP}),
kept AS (SELECT doc_id, s FROM shingles WHERE s NOT IN (SELECT s FROM hot))"""

# over the capped shingles: sizes(doc_id, n); jac(doc_a < doc_b,
# n_inter, na, nb, jaccard) for every pair sharing a shingle; pairs(doc_a,
# doc_b, jaccard) at JACCARD_THRESHOLD
_SQL_OVERLAP = f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
jac AS (
  SELECT doc_a, doc_b, n_inter, sa.n AS na, sb.n AS nb,
         n_inter / (sa.n + sb.n - n_inter) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b),
pairs AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD})"""

SQL_KEPT = f"""{SQL_SHINGLES},
{_SQL_CAP}"""
SQL_JACCARD = f"""{SQL_KEPT},
{_SQL_OVERLAP}"""


def sql_components(
    pairs: str = "pairs", roster: str = "documents WHERE doc_id IS NOT NULL"
) -> str:
    """The ``edges``, ``reach`` and ``clusters(doc_id, cluster_id)`` CTEs
    (inside WITH RECURSIVE): every doc_id of ``roster`` (a FROM clause;
    default every doc identity) labeled with the smallest id reachable over
    the undirected (doc_a, doc_b) edges of ``pairs`` — the oracle mirror of
    min_label_components."""
    return f"""edges AS (
  SELECT doc_a AS u, doc_b AS v FROM {pairs}
  UNION ALL SELECT doc_b, doc_a FROM {pairs}),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM {roster}
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
clusters AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)"""


def shingle_set(w: Column) -> Column:
    """The distinct word-3-gram shingles of a word array (the mirror of
    SQL_SHINGLES). ``w`` must be a real column holding ``split(text, ' ')``:
    Spark does no CSE inside higher-order-function lambdas, so a split()
    referenced from here would re-tokenize the full text per element
    (measured 2.4x slower). The slice/zip_with shape is empty-safe:
    greatest(size-2, 0) gives zero-length slices for docs under 3 words
    (sequence(1, size-2) would be DESCENDING there, and element_at(w, 0)
    errors under ANSI)."""
    k = F.greatest(F.size(w) - 2, F.lit(0))
    sh = F.zip_with(
        F.slice(w, 1, k),
        F.zip_with(F.slice(w, 2, k), F.slice(w, 3, k), lambda a, b: F.concat_ws(" ", a, b)),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    return F.array_distinct(sh)


def shingle_sets(docs: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """(carry..., doc_id, sh): the shingle set of every (doc_id, text) row
    with at least one shingle. Row-local, so batch and stream share it;
    docs under 3 words have no signature and so no near-dup evidence
    (consumers keep them unconditionally)."""
    carry = carry or []
    return (
        docs.withColumn("w", F.split("text", " "))
        # a 3-gram needs three words. Filtering on the shingle set instead
        # would be pushed below its projection and build every set twice.
        .filter(F.size("w") >= 3)
        .select(*carry, "doc_id", shingle_set(F.col("w")).alias("sh"))
    )


def _build_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncached (doc_id, sh) shingle sets over the unique-docs grain.

    One row per doc IDENTITY (sources.unique_docs contract): a redelivered
    byte-identical copy must not double the shingle multiset. Repartitioned
    by doc_id FIRST, so the identity dedup reuses that exchange instead of
    adding a second one, and the md5-heavy signature work downstream is not
    serialized onto the one input split of a single-file table (on a real
    multi-file table the scan itself provides this parallelism)."""
    return shingle_sets(
        unique_docs(spark, sf_dir, partitions=spark.sparkContext.defaultParallelism)
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): the per-document shingle set, session-cached (see
    _session_cached). Every shingle consumer starts here: the exact-Jaccard
    family through its explode (_spark_shingles), the MinHash family
    through its signature projection (_spark_signatures)."""
    return _session_cached(
        spark, ("shingles", str(sf_dir)), lambda: _build_shingles(spark, sf_dir)
    )


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): distinct word-3-gram shingles per document, exploded
    from the cached shingle sets."""
    return _shingle_sets(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))


# ---------------------------------------------------------------------------
# exact dedup (reference consumer.py:301 membership gate → dropDuplicates)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
SELECT doc_id, text, lang FROM (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id, text, lang FROM documents)
GROUP BY doc_id, text, lang
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: duplicate the corpus (simulating replayed batches, the
    reference's failure mode) then collapse identical rows."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return d.unionByName(d).dropDuplicates()


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# One MinHash rule per engine. The shingle set, the seed-salted md5
# signature, the band key and the matched-position estimate are each
# spelled once below (Column helpers for Spark, SQL generators for the
# oracles); batch, stream and oracle all call them, so a change to the
# shingle, salt or band layout is one edit. The Spark signature is the
# row-local array form (array_min over transform): a map-only projection
# with no aggregate, which a stream can evaluate with zero state and which
# a batch corpus evaluates without a shuffle.

SQL_MINHASH_SIG = f"""{SQL_SHINGLES},
seeds AS (SELECT unnest([{", ".join(str(i) for i in range(N_SEEDS))}]) AS seed),
mh AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || s)) AS h
  FROM shingles, seeds GROUP BY doc_id, seed),
sig AS (SELECT doc_id, list(h ORDER BY seed) AS sig FROM mh GROUP BY doc_id)"""


def sql_bands(n_bands: int = N_BANDS, name: str = "bands") -> str:
    """The ``name`` CTE: (doc_id, b, bkey) band keys off the ``sig`` CTE of
    SQL_MINHASH_SIG, N_SEEDS/n_bands positions per band."""
    rpb = N_SEEDS // n_bands
    bkey = " || ".join(f"sig[{rpb}*b + {j + 1}]" for j in range(rpb))
    cases = ", ".join(str(b) for b in range(n_bands))
    return f"""{name} AS (
  SELECT doc_id, b, {bkey} AS bkey
  FROM sig, (SELECT unnest([{cases}]) AS b))"""


def sql_est(a: str, b: str) -> str:
    """Estimated Jaccard of two ``sig`` rows: matching positions / N_SEEDS."""
    return (
        f"len([i FOR i IN generate_series(1, {N_SEEDS}) IF {a}.sig[i] = {b}.sig[i]])"
        f" / {N_SEEDS}.0"
    )


def minhash_sig(sh: Column) -> Column:
    """The N_SEEDS MinHash minima of a shingle-set column: per seed, the
    minimum of md5('{seed}|' || shingle) (the mirror of SQL_MINHASH_SIG)."""
    return F.array(
        *[
            F.array_min(F.transform(sh, lambda x: F.md5(F.concat(F.lit(f"{s}|"), x))))
            for s in range(N_SEEDS)
        ]
    )


def band_key(sig: Column, b: int, rows_per_band: int) -> Column:
    """Band ``b``'s LSH key: its signature positions concatenated."""
    return F.concat(
        *[F.element_at(sig, rows_per_band * b + j + 1) for j in range(rows_per_band)]
    )


def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard of two signatures (the mirror of sql_est)."""
    matches = F.filter(
        F.sequence(F.lit(1), F.lit(N_SEEDS)),
        lambda i: F.element_at(sig_a, i) == F.element_at(sig_b, i),
    )
    return F.size(matches) / F.lit(float(N_SEEDS))


MINHASH_ORACLE = f"""
WITH {SQL_MINHASH_SIG},
{sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b, {sql_est("sa", "sb")} AS est_jaccard
FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
WHERE {sql_est("sa", "sb")} >= {MINHASH_THRESHOLD}
"""


def _spark_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig): the MinHash signature of every document with at least
    one shingle, projected from the cached shingle sets and itself
    session-cached: it feeds both legs of every band-bucket self-join (an
    exchange Spark does not recognize as reusable), so q_dedup_minhash,
    q_dedup_verify, q_dedup_eval, the q_dedup_incremental corpus side and
    s_dedup_near's verdict share ONE materialization per (session, sf_dir)
    instead of each re-running the md5 sweep."""
    return _session_cached(
        spark,
        ("minhash_sig", str(sf_dir), N_SEEDS),
        lambda: _shingle_sets(spark, sf_dir).select(
            "doc_id", minhash_sig(F.col("sh")).alias("sig")
        ),
    )


def minhash_bands(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(sig's columns..., b, bkey): one row per LSH band of every signature
    row. Band rows carry the full signature, so a bucket join yields
    (pair, sig_a, sig_b) directly — no extra signature joins."""
    rows_per_band, rem = divmod(N_SEEDS, n_bands)
    if rem:
        raise ValueError(f"n_bands={n_bands} must divide N_SEEDS={N_SEEDS}")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"), band_key(F.col("sig"), b, rows_per_band).alias("bkey")
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("*", F.inline(bands))


def minhash_pairs(
    sig: DataFrame,
    n_bands: int = N_BANDS,
    threshold: float = MINHASH_THRESHOLD,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over a (doc_id, sig) signature relation.

    signature → band keys (N_SEEDS/n_bands rows per band × n_bands bands)
    → bucket self-join → candidates → estimated Jaccard = matching
    positions/seeds. The only shuffle is the band-key self-join; no
    pairwise work outside colliding buckets.

    ``n_bands`` is THE recall/cost dial: more bands (fewer rows each) catch
    lower-similarity pairs at the price of more bucket collisions — with
    one-row bands every single matching hash creates a candidate, so the
    candidate set of (b bands × r rows) is contained in that of (b·r bands
    × 1 row). tests/test_properties.py pins that containment.

    ``bucket_cap`` is the SKEW dial (the NGRAM_DF_CAP analog for band
    buckets): a bucket of m near-identical docs makes the self-join emit
    m(m-1)/2 candidates — one boilerplate page template at corpus scale
    turns a band bucket into a quadratic hot spot on a single reducer.
    With a cap, buckets over the cap degrade to STAR-LINKING: every
    member pairs with the bucket's minimum doc_id only, O(m) per bucket.
    Connected components — what dedup clustering consumes — are preserved
    for the bucket (the star spans it); non-representative pair edges
    inside oversized buckets are the accepted loss, so capped mode is an
    approximation of the pair RELATION but not of the CLUSTERING (for
    near-identical members, est_jaccard ≈ 1 keeps every star edge above
    threshold). Default None = exact all-pairs, the oracle-checked path.
    tests/test_properties.py pins both the bound and the component
    preservation on a planted O(n) bucket."""
    bands = minhash_bands(sig, n_bands)

    def all_pairs(rel: DataFrame) -> DataFrame:
        a = rel.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "b", "bkey"
        )
        c = rel.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sig").alias("sig_b"),
            F.col("b").alias("b2"),
            F.col("bkey").alias("bkey2"),
        )
        return a.join(
            c,
            (F.col("b") == F.col("b2"))
            & (F.col("bkey") == F.col("bkey2"))
            & (F.col("doc_a") < F.col("doc_b")),
        ).select("doc_a", "doc_b", "sig_a", "sig_b")

    if bucket_cap is None:
        cand = all_pairs(bands)
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("b", "bkey")
        counted = bands.withColumn("bsize", F.count(F.lit(1)).over(w))
        small = all_pairs(counted.filter(F.col("bsize") <= bucket_cap))
        # oversized buckets: star-link to the bucket representative (the
        # min-doc_id member, carried with its signature via a struct min)
        big = counted.filter(F.col("bsize") > bucket_cap).withColumn(
            "rep", F.min(F.struct("doc_id", "sig")).over(w)
        )
        star = big.filter(F.col("doc_id") != F.col("rep.doc_id")).select(
            F.col("rep.doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("rep.sig").alias("sig_a"),
            F.col("sig").alias("sig_b"),
        )
        cand = small.unionByName(star)
    return (
        cand.select(
            "doc_a", "doc_b", est_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard")
        )
        .distinct()
        .filter(F.col("est_jaccard") >= threshold)
    )


@query("q_dedup_minhash", oracle=MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at the default dial (8 seeds, 4 bands of
    2 rows, threshold 0.5) — see minhash_pairs for the plan shape and the
    bands/rows recall-vs-cost tradeoff. The signature relation comes from
    the session cache (_spark_signatures), so the md5 sweep runs once per
    session and the bucket self-join's two legs read the persisted copy."""
    return minhash_pairs(_spark_signatures(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def sql_simhash_fps() -> str:
    """The oracle's SimHash CTEs ending in ``fps(doc_id, simhash)``: per
    word-occurrence port hash, each of the 16 bits votes ±1, and the sign
    of the per-doc vote sum is the fingerprint bit (the SQL mirror of
    ``_simhash_fps``)."""
    from kinesis_test_spark.functions.porthash import sql_hex16

    h = sql_hex16("w")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ({h} & {1 << k}) > 0 THEN 1 ELSE -1 END) AS s{k}"
        for k in range(16)
    )
    fp = " + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))
    return f"""words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM words GROUP BY doc_id),
fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits)"""


def _simhash_oracle() -> str:
    return f"""
WITH {sql_simhash_fps()}
SELECT doc_id, simhash,
       COUNT(*) OVER (PARTITION BY simhash) AS n_same_fp
FROM fps
"""


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per word-occurrence hash, each bit votes ±1, sign of
    the per-doc vote sum forms the fingerprint bit. Near-identical docs get
    identical fingerprints (`n_same_fp` > 1). Single map + one groupBy —
    the cheapest near-dup signal at scale."""
    fps = _simhash_fps(spark, sf_dir)
    from pyspark.sql import Window

    return fps.select(
        "doc_id",
        "simhash",
        F.count("*").over(Window.partitionBy("simhash")).alias("n_same_fp"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _apply_df_cap(sh: DataFrame, df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Drop stop-shingles (document frequency > ``df_cap``) from a
    (doc_id, s) frame.  The hot set is small by construction (each member
    exceeds the cap), so it broadcast-anti-joins."""
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("s")
    )
    return sh.join(F.broadcast(hot), "s", "left_anti")


# The capped shingle relation and the thresholded exact-Jaccard pair list
# are the shared inputs of the whole family: the pairs feed jaccard /
# clusters / keeplist / keep_best / graph_degree / eval / pipeline_clean,
# and `kept` also feeds verify / containment / contamination.  Round-2
# bench showed recomputing them inside every query was the one real
# regression (q_dedup_ngram_jaccard 2.45× r1), so each is materialized once
# per (application, sf_dir, cap) and reused — on a cluster this is the
# "stage the deduped shingle index once, sweep it many times" shape.
# Bounded LRU so long sessions over many sf_dirs don't pin storage.
_DF_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_DF_CACHE_MAX = 8


def _session_cached(spark: SparkSession, tag: tuple, build) -> DataFrame:
    """Persist-once-per-session memoizer for shared relations."""
    key = (spark.sparkContext.applicationId, *tag)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        _DF_CACHE.move_to_end(key)
        return cached
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _DF_CACHE[key] = df
    while len(_DF_CACHE) > _DF_CACHE_MAX:
        _, old = _DF_CACHE.popitem(last=False)
        old.unpersist()
    return df


def _kept_shingles(
    spark: SparkSession, sf_dir: str, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """(doc_id, s) shingles AFTER the NGRAM_DF_CAP stop-shingle filter,
    persisted once per (session, sf_dir, cap)."""
    return _session_cached(
        spark,
        ("kept", str(sf_dir), int(df_cap)),
        lambda: _apply_df_cap(_spark_shingles(spark, sf_dir), df_cap),
    )


def _overlaps(kept: DataFrame) -> DataFrame:
    """(doc_a < doc_b, n_inter, na, nb, jaccard): every pair sharing a
    shingle of an ALREADY-capped (doc_id, s) relation, with its overlap
    count, both set sizes and its exact Jaccard — the inverted-index
    self-join every exact-Jaccard and containment score derives from (the
    Spark mirror of SQL_JACCARD's ``jac``). The cap bounds the join
    at df_cap² pairs per shingle."""
    sizes = _sizes(kept)
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")))
    )


def _sizes(kept: DataFrame) -> DataFrame:
    """(doc_id, n): capped shingle-set sizes."""
    return kept.groupBy("doc_id").agg(F.count("*").alias("n"))


def _threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) exact-Jaccard near-dup pairs at
    JACCARD_THRESHOLD — the tiny edge list every downstream dedup decision
    (clusters / keeplist / degree / eval) consumes; persisted once per
    session."""
    return _session_cached(
        spark,
        ("jpairs", str(sf_dir), JACCARD_THRESHOLD),
        lambda: _overlaps(_kept_shingles(spark, sf_dir))
        .select("doc_a", "doc_b", "jaccard")
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD),
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {SQL_JACCARD}
SELECT doc_a, doc_b, jaccard FROM pairs
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard via inverted-index join (shared shingle →
    candidate pair → |∩| count, sizes joined back), guarded by the
    NGRAM_DF_CAP stop-shingle filter so a hot shingle can't contribute a
    quadratic posting list to the self-join (see _overlaps). The
    capped shingles and the resulting pair list are session-cached and
    shared by the whole family."""
    return _threshold_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (blocked)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND(list_cosine_similarity({sql_vec_e("a.embedding")},
                                    {sql_vec_e("b.embedding")}), 4) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity({sql_vec_e("a.embedding")},
                                   {sql_vec_e("b.embedding")}), 4) >= {COSINE_THRESHOLD}
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with `label` as the blocking key (stand-in
    for a coarse quantization cell): pairs only form inside a block, so the
    pair space is Σ|block|², not n². The pair cosine goes through the
    family's Arrow/numpy batch path (_pair_cos_batched — guide §4.2;
    measured 1.27 → 0.99 s at sf0.1's ~200k blocked pairs, rows identical
    both directions by exceptAll): rows whose validity-gated norm is NULL
    are dropped BEFORE the Python boundary — in the JVM-fold form their
    cosine was NULL → -1.0 → dropped at the threshold, so the pre-filter
    is result-identical and ships fewer bytes across."""
    # norms precomputed ONCE per vector before the pair join (bit-identical
    # expression, 3× fewer folds than per-pair recomputation) — and
    # repartitioned: single-file input would serialize the fold work
    e = (
        t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", "label", F.when(
                vec_valid(), F.transform("embedding", lambda x: x.cast("double"))
            ).alias("e")
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # zero-norm guard semantics preserved through the batch path: a zero
    # denominator is masked NULL in the Arrow function (try_divide
    # semantics) and coalesced to DuckDB's list_cosine_similarity
    # sentinel (-1.0) Spark-side, so both engines drop the row at the
    # threshold filter instead of Spark ANSI-erroring the job
    cand = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b"))
    ).filter(F.col("na").isNotNull() & F.col("nb").isNotNull())
    return (
        _pair_cos_batched(cand, ["vec_a", "vec_b", "label"])
        .select("vec_a", "vec_b", "label", F.col("cos").alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


@query("q_dedup_minhash_mllib")  # rows-only: MLlib hash family isn't portable
def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib path for the same near-dup job: HashingTF (binary) over
    shingles → MinHashLSH(numHashTables=8) → approxSimilarityJoin at
    Jaccard distance ≤ 0.5. Engine-native hashing (not oracle-portable, so
    rows-only) — at scale this benefits from MLlib's optimized LSH join.
    Cross-checked in spirit by q_dedup_minhash (portable reimplementation)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _shingle_sets(spark, sf_dir).select("doc_id", F.col("sh").alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.round(1 - F.col("jaccard_dist"), 6).alias("est_jaccard"),
    )


def _simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — shared by the fingerprint and pairing queries."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    h = spark_hex16(F.col("w"))
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(1 << k) > 0, 1).otherwise(-1)).alias(f"s{k}")
        for k in range(16)
    ]
    bits = words.groupBy("doc_id").agg(*bit_sums)
    fp = sum(
        [F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(0) for k in range(16)],
        start=F.lit(0),
    ).cast("bigint")
    return bits.select("doc_id", fp.alias("simhash"))


def _simhash_pairs_oracle() -> str:
    # brute-force n² hamming check — the oracle the pigeonhole join must match
    return f"""
WITH {sql_simhash_fps()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


@query("q_dedup_simhash_hamming", oracle=_simhash_pairs_oracle())
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ 2 on the 16-bit SimHash, WITHOUT
    the n² pair scan: split the fingerprint into 3 parts (6/5/5 bits) — any
    pair within distance 2 has at least one part identical (pigeonhole), so
    an equi-join per part generates all candidates, then the exact popcount
    filter keeps true pairs. Shuffle is keyed on (part_id, part_value):
    linear in docs, not quadratic. The oracle is the brute-force n² check —
    the rewrite must be lossless."""
    fps = _simhash_fps(spark, sf_dir)
    parts = [
        (0, F.col("simhash").bitwiseAND(F.lit(0x3F))),          # bits 0-5
        (1, F.shiftright("simhash", 6).bitwiseAND(F.lit(0x1F))),  # bits 6-10
        (2, F.shiftright("simhash", 11).bitwiseAND(F.lit(0x1F))),  # bits 11-15
    ]
    keyed = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(p).alias("part"), v.alias("pv")) for p, v in parts])
        ).alias("k"),
    ).select("doc_id", "simhash", F.col("k.part").alias("part"), F.col("k.pv").alias("pv"))
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "part", "pv"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("fp_b"),
        F.col("part").alias("part_b"),
        F.col("pv").alias("pv_b"),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    return (
        a.join(
            b,
            (F.col("part") == F.col("part_b"))
            & (F.col("pv") == F.col("pv_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 2)
        .distinct()
    )


# ---------------------------------------------------------------------------
# image perceptual-hash dedup (aHash/dHash over decoded pixels, Hamming band)
# ---------------------------------------------------------------------------

# 8×8 grayscale = 64 pixels; each word votes its length into PHASH_VOTES
# slots (TLSH-style multi-projection: with the fixture's ~54-word median
# doc, a single projection leaves >40% of slots at the shared empty-slot
# background and the band join degenerates to ~20% of the brute-force pair
# space; 3 votes raise slot occupancy to λ≈2.5 and the same 4×16-bit bands
# prune ~300× — measured at sf0.01 AND sf0.1 before the dial was pinned).
PHASH_W = 8
PHASH_SLOTS = PHASH_W * PHASH_W
PHASH_VOTES = 3
PHASH_HAMMING = 3  # pairs at aHash Hamming ≤ 3; 4 bands ⇒ pigeonhole holds


def _phash_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, vs) — the 64 pixel values of each document's synthetic
    8×8 grayscale image, row-major. Pixel s = (slot_sum[s]·13 + s) % 256
    where slot_sum[s] accumulates the codepoint lengths of words hashed
    into slot s by any of the PHASH_VOTES portable-md5 projections. The
    formula is the image GENERATOR (the fixture ships no real images);
    the codec round trip and the perceptual hash downstream are the real
    pipeline stages. All arithmetic is non-negative exact integers."""
    d = unique_docs(
        spark,
        sf_dir,
        cols=["doc_id", "text"],
        partitions=spark.sparkContext.defaultParallelism,
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    votes = words.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    spark_hex16(F.concat(F.col("w"), F.lit(f"#{j}"))) % PHASH_SLOTS
                    for j in range(PHASH_VOTES)
                ]
            )
        ).alias("s"),
        F.length("w").alias("l"),
    )
    slot_sums = votes.groupBy("doc_id", "s").agg(F.sum("l").alias("ls"))
    spine = d.select("doc_id").crossJoin(
        F.broadcast(spark.range(PHASH_SLOTS).select(F.col("id").alias("s")))
    )  # constant 64-slot dimension grid — broadcast, never a real cartesian
    vals = spine.join(slot_sums, ["doc_id", "s"], "left").select(
        "doc_id",
        "s",
        ((F.coalesce(F.col("ls"), F.lit(0)) * 13 + F.col("s")) % 256)
        .cast("int")
        .alias("v"),
    )
    return vals.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "v"))), lambda x: x["v"]
        ).alias("vs")
    )


def _phash_oracle() -> str:
    """Brute-force n² oracle: the same image formula computed analytically
    (the oracle never sees a PNG — codec drift on the Spark side breaks
    parity, the q_mm_png_roundtrip posture), hashes packed into 32-bit
    halves, exact popcount distance."""
    from kinesis_test_spark.functions.porthash import sql_hex16

    slot = f"({sql_hex16('w || v.tag')} % {PHASH_SLOTS})"
    tags = ", ".join(f"'#{j}'" for j in range(PHASH_VOTES))
    return f"""
WITH ud AS (SELECT doc_id, text FROM {SQL_UNIQUE_DOCS}),
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM ud),
votes AS (
  SELECT doc_id, {slot} AS s, length(w) AS l
  FROM words, (SELECT unnest([{tags}]) AS tag) v),
ss AS (SELECT doc_id, s, SUM(l) AS ls FROM votes GROUP BY doc_id, s),
spine AS (
  SELECT d.doc_id, u.s
  FROM (SELECT doc_id FROM ud) d,
       (SELECT unnest(generate_series(0, {PHASH_SLOTS - 1})) AS s) u),
vals AS (
  SELECT sp.doc_id, sp.s,
         ((COALESCE(ls, 0) * 13 + sp.s) % 256) AS v
  FROM spine sp LEFT JOIN ss ON sp.doc_id = ss.doc_id AND sp.s = ss.s),
tot AS (SELECT doc_id, SUM(v) AS tv FROM vals GROUP BY doc_id),
abits AS (
  SELECT v.doc_id, v.s,
         CASE WHEN v.v * {PHASH_SLOTS} >= t.tv THEN 1 ELSE 0 END AS ab
  FROM vals v JOIN tot t ON v.doc_id = t.doc_id),
dbits AS (
  SELECT a.doc_id, a.s, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS db
  FROM vals a JOIN vals b
    ON a.doc_id = b.doc_id AND b.s = (a.s + 1) % {PHASH_SLOTS}),
fps AS (
  SELECT a.doc_id,
         SUM(CASE WHEN a.s < 32 THEN a.ab * (CAST(1 AS BIGINT) << a.s) ELSE 0 END) AS a_lo,
         SUM(CASE WHEN a.s >= 32 THEN a.ab * (CAST(1 AS BIGINT) << (a.s - 32)) ELSE 0 END) AS a_hi,
         SUM(CASE WHEN d.s < 32 THEN d.db * (CAST(1 AS BIGINT) << d.s) ELSE 0 END) AS d_lo,
         SUM(CASE WHEN d.s >= 32 THEN d.db * (CAST(1 AS BIGINT) << (d.s - 32)) ELSE 0 END) AS d_hi
  FROM abits a JOIN dbits d ON a.doc_id = d.doc_id AND a.s = d.s
  GROUP BY a.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.a_lo, b.a_lo)) + bit_count(xor(a.a_hi, b.a_hi)) AS INT) AS hamming_a,
       CAST(bit_count(xor(a.d_lo, b.d_lo)) + bit_count(xor(a.d_hi, b.d_hi)) AS INT) AS hamming_d
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.a_lo, b.a_lo)) + bit_count(xor(a.a_hi, b.a_hi)) <= {PHASH_HAMMING}
ORDER BY doc_a, doc_b
"""


@query("q_dedup_phash", oracle=_phash_oracle())
def q_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection by perceptual hash (r12 VERDICT #2 — the
    one missing dedup modality; pixel analog of the reference's dedup
    predicate, consumer.py:292-303): per document, build its synthetic
    8×8 grayscale image (content-derived formula — see _phash_pixels),
    round-trip it through the REAL pure-Python PNG codec (png_py.py,
    filter type doc_id % 5 exercises all five scanline filters), compute
    aHash (mean-threshold, via exact v·64 ≥ Σv cross-multiplication — no
    division) and dHash (row-major cyclic neighbor comparison) from the
    DECODED pixels, then join near-identical images WITHOUT an n² pair
    scan: the 64-bit aHash splits into 4×16-bit bands — any pair within
    Hamming distance ≤ 3 shares at least one exact band (pigeonhole) —
    so an equi-join on (band, value) generates candidates and the exact
    popcount filter keeps true pairs (the q_dedup_simhash_hamming
    pattern). The oracle is the brute-force n² check over analytically
    computed hashes: the banded rewrite must be lossless AND the codec
    round trip must be bit-exact. At 100 TB: hashes are 4 small ints per
    image (the decode+hash stage is embarrassingly parallel mapInPandas);
    the band join shuffles on (band, value) — linear in images; a giant
    identical-image cluster makes the OUTPUT quadratic (a pair list over
    k identical images is C(k,2) by contract), the same posture as the
    simhash/embedding pair operators — the cluster/keeplist operators are
    the O(m) representation when verdicts, not pairs, are the goal."""
    from collections.abc import Iterator

    import pandas as pd

    from kinesis_test_spark.operators.png_py import decode_png, encode_png

    def hash_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = PHASH_SLOTS
        for pdf in batches:
            rows = []
            for doc_id, vs in zip(pdf["doc_id"], pdf["vs"]):
                doc_id = int(doc_id)
                pix = bytes(int(v) for v in vs for _ in range(3))  # r=g=b
                png = encode_png(pix, PHASH_W, PHASH_W, filter_type=doc_id % 5)
                _w, _h, out = decode_png(png)
                dec = out[0::3]  # R channel of the DECODED bytes
                total = sum(dec)
                a_lo = a_hi = d_lo = d_hi = 0
                for s in range(n):
                    if dec[s] * n >= total:
                        if s < 32:
                            a_lo |= 1 << s
                        else:
                            a_hi |= 1 << (s - 32)
                    if dec[(s + 1) % n] > dec[s]:
                        if s < 32:
                            d_lo |= 1 << s
                        else:
                            d_hi |= 1 << (s - 32)
                rows.append((doc_id, a_lo, a_hi, d_lo, d_hi))
            yield pd.DataFrame(
                rows, columns=["doc_id", "a_lo", "a_hi", "d_lo", "d_hi"]
            )

    # one row per image — materialized once (the band relation fans out to
    # both legs of the pair join; without it the words→votes→codec subtree
    # executes twice, the r11/r12 fan-out class)
    fps = truncate_lineage(
        _phash_pixels(spark, sf_dir).mapInPandas(
            hash_images, "doc_id long, a_lo long, a_hi long, d_lo long, d_hi long"
        )
    )
    bands = [
        F.col("a_lo").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("a_lo", 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("a_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("a_hi", 16).bitwiseAND(F.lit(0xFFFF)),
    ]
    keyed = fps.select(
        "doc_id",
        "a_lo",
        "a_hi",
        "d_lo",
        "d_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), bv.alias("bv"))
                    for i, bv in enumerate(bands)
                ]
            )
        ).alias("k"),
    ).select(
        "doc_id", "a_lo", "a_hi", "d_lo", "d_hi",
        F.col("k.band").alias("band"), F.col("k.bv").alias("bv"),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("a_lo").alias("al_a"), F.col("a_hi").alias("ah_a"),
        F.col("d_lo").alias("dl_a"), F.col("d_hi").alias("dh_a"),
        "band", "bv",
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("a_lo").alias("al_b"), F.col("a_hi").alias("ah_b"),
        F.col("d_lo").alias("dl_b"), F.col("d_hi").alias("dh_b"),
        F.col("band").alias("band_b"), F.col("bv").alias("bv_b"),
    )
    hamming_a = (
        F.bit_count(F.col("al_a").bitwiseXOR(F.col("al_b")))
        + F.bit_count(F.col("ah_a").bitwiseXOR(F.col("ah_b")))
    ).cast("int")
    hamming_d = (
        F.bit_count(F.col("dl_a").bitwiseXOR(F.col("dl_b")))
        + F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b")))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bv") == F.col("bv_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            hamming_a.alias("hamming_a"),
            hamming_d.alias("hamming_d"),
        )
        .filter(F.col("hamming_a") <= PHASH_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {SQL_JACCARD},
{sql_components()}
SELECT doc_id, cluster_id FROM clusters
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup graph: every
    document labeled with the smallest doc_id reachable through near-dup
    edges (singletons keep their own id) — the dedup-pipeline step that
    turns pairwise matches into keep/drop groups.

    Spark side: iterative min-label propagation (label ← min of own and
    neighbors' labels) until a fixed point — each iteration is one join +
    one groupBy, the standard large-scale CC pattern (HashToMin); near-dup
    components are tiny, so convergence takes O(log |component|) ≈ 2-3
    rounds. The driver loop only checks a scalar convergence flag.
    Lineage is truncated per round via truncate_lineage — reliable
    checkpoint() on a cluster with a checkpoint dir, localCheckpoint here.
    Oracle: DuckDB recursive CTE computing min over the transitive closure."""
    pairs = _threshold_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # roster at doc-IDENTITY grain (the oracle's recursive UNION dedups;
    # a redelivered row must not appear twice in the labeling)
    roster = unique_docs(spark, sf_dir).select("doc_id")
    return min_label_components(pairs, roster)


MIN_LABEL_MAX_ROUNDS = 50  # >> any plausible component diameter; fixed-point
# break is the normal exit, so unused rounds cost nothing — the bound only
# exists to turn a pathological/never-converging topology into a loud error.


def min_label_components(pairs: DataFrame, roster: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation (HashToMin):
    label ← min(own, neighbors') until a fixed point. ``pairs`` is an
    UNDIRECTED two-column edge relation (each edge once; both directions
    are built here); ``roster`` is the (doc_id) universe to label —
    isolated ids keep their own label. Each round is one join + one groupBy; lineage is
    truncated per round (truncate_lineage — reliable checkpoint() on a
    cluster with a checkpoint dir, localCheckpoint here). Shared by
    q_dedup_clusters (Jaccard edges) and q_dedup_substring_clusters
    (shared-window star edges). RAISES if the fixed point is not reached
    within MIN_LABEL_MAX_ROUNDS rounds — partially-propagated labels are
    silently wrong, never returned (r10 ADVICE)."""
    a, b = (F.col(c) for c in pairs.columns)
    edges = pairs.select(a.alias("u"), b.alias("v")).unionByName(
        pairs.select(b.alias("u"), a.alias("v"))
    )
    labels = roster.select("doc_id", F.col("doc_id").alias("cluster_id"))
    edges = truncate_lineage(edges)  # fixed edge set, reused every round
    changed = 0
    for _ in range(MIN_LABEL_MAX_ROUNDS):  # breaks at fixed point
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # the changed flag rides the checkpointed relation itself (labels
        # only ever decrease, so changed ⟺ a neighbor min undercuts the
        # own label) — detecting convergence by re-joining new vs old
        # labels cost one extra shuffle join per round
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("chg"),
            )
        )
        new_labels = truncate_lineage(new_labels)
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    if changed != 0:
        # A component whose diameter exceeds the round bound would return
        # PARTIALLY-propagated labels — silently wrong clusters. Long doc
        # chains (A~B~C~... via successive overlapping boilerplate) are
        # plausible on real corpora, so fail loudly instead (r10 ADVICE).
        raise RuntimeError(
            f"min_label_components did not converge within "
            f"{MIN_LABEL_MAX_ROUNDS} rounds — component diameter exceeds the "
            f"bound; raise MIN_LABEL_MAX_ROUNDS"
        )
    return labels


@query(
    "q_dedup_keeplist",
    oracle=f"""
WITH RECURSIVE {SQL_JACCARD},
{sql_components()}
SELECT doc_id, cluster_id,
       doc_id = cluster_id AS is_canonical,
       CASE WHEN doc_id = cluster_id THEN 'keep' ELSE 'drop' END AS action
FROM clusters
""",
)
def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: near-dup clusters resolved into per-document
    keep/drop actions (canonical = smallest doc_id per component). This is
    the table a training pipeline actually joins against its corpus —
    pairs → components → actions, end to end."""
    clusters = q_dedup_clusters(spark, sf_dir)
    return clusters.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        F.when(F.col("doc_id") == F.col("cluster_id"), "keep").otherwise("drop").alias("action"),
    )


# ---------------------------------------------------------------------------
# fuzzy (edit-distance) dedup, prefix-blocked
# ---------------------------------------------------------------------------

FUZZY_PREFIX = 8  # block key: first 8 chars (+ lang)
FUZZY_HEAD = 64  # edit distance computed over this head slice
FUZZY_MAX_DIST = 8


@query(
    "q_dedup_fuzzy",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, substr(text, 1, {FUZZY_PREFIX}) AS pfx,
         substr(text, 1, {FUZZY_HEAD}) AS head
  FROM documents)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.lang,
       levenshtein(a.head, c.head) AS edit_dist
FROM b a JOIN b c
  ON a.lang = c.lang AND a.pfx = c.pfx AND a.doc_id < c.doc_id
WHERE levenshtein(a.head, c.head) <= {FUZZY_MAX_DIST}
""",
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup via edit distance, prefix-blocked: candidate pairs
    form only inside a (lang, first-8-chars) block — the classic
    Levenshtein blocking that turns an O(n²·L²) all-pairs scan into
    per-block work (test corpora: max block 7 docs) — then exact
    levenshtein over the 64-char head filters at distance <= 8. The
    complement to shingle/MinHash dedup for SHORT near-identical texts
    (titles, URLs, boilerplate) where 3-gram sets are too coarse."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, FUZZY_PREFIX).alias("pfx"),
        F.substring("text", 1, FUZZY_HEAD).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", "pfx", F.col("head").alias("head_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("pfx").alias("pfx_b"),
        F.col("head").alias("head_b"),
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("pfx") == F.col("pfx_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            "lang",
            F.levenshtein("head_a", "head_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


def _graph_degree_oracle() -> str:
    return f"""
WITH {SQL_JACCARD},
deg AS (
  SELECT u AS doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY u)
SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree
"""


@query("q_graph_degree", oracle=_graph_degree_oracle())
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph — the health check run
    BEFORE clustering: a heavy-tailed degree histogram means a boilerplate
    template is stitching unrelated documents together (and the CC step
    would produce one giant component). Two hash aggregates over the
    already-bounded pair list."""
    pairs = _threshold_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


def _verify_oracle() -> str:
    return f"""
WITH {SQL_MINHASH_SIG},
{sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
est AS (
  SELECT doc_a, doc_b, {sql_est("sa", "sb")} AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
{_SQL_CAP},
{_SQL_OVERLAP}
SELECT e.doc_a, e.doc_b, e.est_jaccard, COALESCE(o.jaccard, 0.0) AS jaccard
FROM est e
LEFT JOIN jac o ON o.doc_a = e.doc_a AND o.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a JOIN sizes sb ON sb.doc_id = e.doc_b
"""


@query("q_dedup_verify", oracle=_verify_oracle())
def q_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage near-dup pipeline in one plan: LSH banding
    PROPOSES candidates (cheap, recall-oriented), exact capped Jaccard
    VERIFIES them (precision) — the estimate and the truth side by side
    per candidate pair. At 100 TB the verify join touches only LSH
    collisions, so exactness costs |candidates|, not n². Pairs the LSH
    candidate set (threshold 0 — every collision) with the inverted-index
    intersection via a left join (candidates sharing no post-cap shingle
    verify to 0)."""
    est = minhash_pairs(_spark_signatures(spark, sf_dir), threshold=0.0)
    kept = _kept_shingles(spark, sf_dir)
    exact = _overlaps(kept).select("doc_a", "doc_b", "jaccard")
    sizes = _sizes(kept)
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        )
    )


@query(
    "q_dedup_normalized",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, {sql_ascii_upper("text")} || ' !!' FROM documents
  WHERE doc_id % 10 = 0),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace({sql_ascii_lower("text")}, '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM corpus)
SELECT norm_text, COUNT(*) AS n_variants, MIN(doc_id) AS canonical_doc
FROM norm GROUP BY norm_text HAVING COUNT(*) > 1
""",
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: lowercase, strip punctuation, collapse
    whitespace, THEN group — catches trivially-reformatted copies that
    byte-exact dedup (q_dedup_exact) misses and shingle methods
    over-spend on. A reformatted copy of every 10th doc is planted
    (uppercased + punctuation, new ids) so the normalization is actually
    exercised; the cheapest rung of the dedup ladder after raw equality —
    one groupBy on the normalized content (in production, on its hash —
    same shuffle key either way). Case folding is the portable ASCII-only
    translate (porthash): the staged copy and the normalizer are both
    RECOMPUTED per engine, and full upper()/lower() diverge on ß/İ/ﬁ
    (Java full mappings expand ß to ASCII 'SS'; utf8proc does not —
    tests/test_edge_unicode.py). A normalizer must also not change
    behavior when the JDK revs its Unicode tables."""
    d = t(spark, sf_dir, "documents")
    variants = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(ascii_upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(variants)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(ascii_lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        corpus.select("doc_id", norm.alias("norm_text"))
        .groupBy("norm_text")
        .agg(F.count("*").alias("n_variants"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_variants") > 1)
    )


# ---------------------------------------------------------------------------
# incremental corpus dedup (new batch vs persisted corpus signatures)
# ---------------------------------------------------------------------------

# Deterministic batch split for the fixture: every 10th document plays the
# "newly arrived" batch; the rest is the standing corpus.
_NEW_BATCH_PRED = "doc_id % 10 = 0"

INCREMENTAL_ORACLE = f"""
WITH {SQL_MINHASH_SIG},
{sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc, c.doc_id AS corpus_doc
  FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey
  WHERE a.{_NEW_BATCH_PRED} AND NOT (c.{_NEW_BATCH_PRED}))
SELECT new_doc, corpus_doc, {sql_est("sa", "sb")} AS est_jaccard
FROM cand JOIN sig sa ON sa.doc_id = new_doc JOIN sig sb ON sb.doc_id = corpus_doc
WHERE {sql_est("sa", "sb")} >= {MINHASH_THRESHOLD}
"""


@query("q_dedup_incremental", oracle=INCREMENTAL_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the operation a production training-data
    pipeline runs daily: dedup a NEW batch of documents against the
    EXISTING corpus without recomputing the corpus side. The corpus side
    is the session-cached signature relation (_spark_signatures, the
    stand-in for the signature table a real pipeline stores between runs);
    only the new batch is shingled and hashed here, row-locally with the
    same helpers the stream uses, so per-run cost is O(new batch) map-side
    plus the band bucket join against the standing index. Asymmetric join
    (new × corpus, no self-pairs), estimated Jaccard from matching
    signature positions, thresholded at the family dial."""
    new = shingle_sets(unique_docs(spark, sf_dir).filter(F.expr(_NEW_BATCH_PRED)))
    new_bands = minhash_bands(new.select("doc_id", minhash_sig(F.col("sh")).alias("sig")))
    corpus = minhash_bands(_spark_signatures(spark, sf_dir).filter(~F.expr(_NEW_BATCH_PRED)))
    a = new_bands.select(
        F.col("doc_id").alias("new_doc"), F.col("sig").alias("sig_a"), "b", "bkey"
    )
    c = corpus.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("sig").alias("sig_b"),
        F.col("b").alias("b2"),
        F.col("bkey").alias("bkey2"),
    )
    return (
        a.join(c, (F.col("b") == F.col("b2")) & (F.col("bkey") == F.col("bkey2")))
        .select(
            "new_doc",
            "corpus_doc",
            est_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
        .distinct()
        .filter(F.col("est_jaccard") >= MINHASH_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# embedding near-dup with DATA-DERIVED blocking cells (no given label)
# ---------------------------------------------------------------------------

_N_CELLS = 8  # same deterministic coarse codebook as similarity.py's IVF


@query(
    "q_dedup_embedding_cells",
    oracle=f"""
WITH cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM embeddings WHERE vec_id < {_N_CELLS}),
v AS (SELECT vec_id, {_SQL_VEC_E} AS e FROM embeddings),
scored AS (
  SELECT v.vec_id, v.e, cent.cid,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC, cent.cid) AS rn
  FROM v, cent),
assigned AS (SELECT vec_id, e, cid FROM scored WHERE rn = 1)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cell,
       ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.e, b.e), 4) >= {COSINE_THRESHOLD}
""",
)
def q_dedup_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with DATA-DERIVED blocking: vectors are
    assigned to their nearest coarse-codebook centroid (the IVF cell
    machinery of operators/similarity.py — deterministic first-C codebook,
    broadcast argmax assignment) and pairs only form inside a cell, so the
    pair space is Σ|cell|², never n², and — unlike q_dedup_embedding —
    nothing depends on a fixture-provided label column. At 100 TB the
    codebook is k-means-trained (q_kmeans) but the plan is identical:
    broadcast centroids, one shuffle on cell id, blocked pair join. Norms
    are computed once per vector before the pair join; cosine is the JVM
    zip_with/aggregate fold with the zero-norm -1.0 sentinel."""
    from kinesis_test_spark.operators.similarity import cosine

    v = (
        t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.when(
                vec_valid(), F.transform("embedding", lambda x: x.cast("double"))
            ).alias("e")
        )
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _N_CELLS).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    from kinesis_test_spark.operators.similarity import assign_cells

    assigned = (
        assign_cells(v, cent, ["e"])
        .select("vec_id", "e", "cid")
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cid").alias("cell"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid").alias("cid_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        F.coalesce(
            F.try_divide(_dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")),
            F.lit(-1.0),
        ),
        4,
    )
    return (
        a.join(b, (F.col("cell") == F.col("cid_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "cell", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-shape): cluster → drop within-cluster near-dups
# keeping the most-diverse representative
# ---------------------------------------------------------------------------

# Keep/drop verdict per vector, not a pair list: within each coarse cell a
# vector is DROPPED when a MORE-KEEPABLE near-duplicate exists. Following
# the SemDeDup recipe (Abbas et al. 2023: within k-means clusters, remove
# high-cosine semantic duplicates keeping the examples with LOW cosine to
# the centroid — maximizing retained diversity), "more keepable" = lower
# centroid similarity, tie-broken by smaller vec_id. The exists-a-better-
# near-dup rule is deterministic and oracle-expressible, unlike the
# paper's order-dependent greedy sweep, and keeps at least one member of
# every mutually-similar group (its keepability minimum).
SEM_DUP_THRESHOLD = COSINE_THRESHOLD  # pair cosine at/above this = same meaning

# Hot-cell guard (r11 VERDICT #1 — the repo's last unguarded quadratic):
# near-duplicate-heavy data concentrates into FEW cells (that is what the
# operator detects), so an uncapped within-cell self-join is |cell|² on
# exactly the input the operator exists for. The bound is a SORTED-
# NEIGHBORHOOD band on the keepability rank: each member is compared only
# against the SEM_CELL_CAP immediately-more-keepable ranks. The rank key is
# cent_sim — a 1-D projection of the vector — and high-cosine pairs have
# provably close projections (spherical triangle inequality:
# |angle(a,c) − angle(b,c)| ≤ angle(a,b)), so true near-dups sit close in
# rank order and the band loses only pairs separated by ≥CAP OTHER members
# squeezed between their centroid similarities. Like minhash's bucket_cap
# (dedup.py NGRAM_DF_CAP / star-linking), this is a recall dial, mirrored
# EXACTLY in the oracle — not an approximation of the oracle's semantics.
SEM_CELL_CAP = 256


def _sem_ranked(assigned: DataFrame) -> DataFrame:
    """Keepability rank within each cell: rn=1 is the MOST keepable member
    (lowest centroid similarity, vec_id tie-break) — the SemDeDup diversity
    rule as a total order. cent_sim is non-NULL by construction (cosine()'s
    -1.0 zero-norm sentinel), but both engines' rank windows still state
    the ordering over the full domain identically (ASC = NULLS FIRST).
    CALLERS MUST QUARANTINE NULL vec_ids first (r12 ADVICE): two
    identity-less vectors tied on cent_sim have an engine-arbitrary
    relative rank, and if their embeddings differ and they straddle a
    SEM_CELL_CAP block boundary, OTHER rows' band membership diverges.
    Every consumer ranks only identified vectors (q_dedup_semantic
    verdicts NULL-id rows kept out-of-band; the incremental split and the
    eval exclude them by pred — the identity-grain convention)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cid").orderBy(
        F.col("cent_sim").asc(), F.col("vec_id").asc()
    )
    return assigned.withColumn("rn", F.row_number().over(w))


def _sem_candidates(
    ranked: DataFrame,
    a_side: DataFrame | None = None,
    b_side: DataFrame | None = None,
    bidirectional: bool = False,
) -> DataFrame:
    """Cap-bounded within-cell candidate pairs. The JOIN ITSELF is linear,
    not just its output: both sides carry an equi-key block id
    (rn-1) div CAP. Default (backward band, rn_a−CAP ≤ rn_b < rn_a): the
    band only ever spans a row's own block and the one before it, so the
    b-side probes exactly two blocks and every (cid, block) join group
    holds ≤CAP a-rows × ≤2·CAP b-rows; a hot cell with m members
    generates Θ(m·CAP) comparisons instead of Θ(m²) (pinned in
    tests/test_dedup_semantic.py with an exact candidate-count formula
    on a 50%-hot corpus). ``bidirectional`` widens the band to
    |rn_a − rn_b| ≤ CAP (b probes three blocks, ≤3·CAP per group) — the
    incremental operator's new-vs-keeper match, where a keeper may rank
    on either side of the new vector. ``a_side``/``b_side`` restrict the
    two legs to sub-relations of ``ranked`` (both must carry its
    columns); rn must come from ONE shared ranking so the band compares
    across the legs, which is why the legs are filters of one ranked
    relation rather than independently-ranked inputs."""
    blk = F.expr(f"(rn - 1) div {SEM_CELL_CAP}")
    offsets = (-1, 0, 1) if bidirectional else (0, 1)
    band = (
        F.abs(F.col("rn_a") - F.col("rn_b")) <= F.lit(SEM_CELL_CAP)
        if bidirectional
        else (F.col("rn_b") < F.col("rn_a"))
        & (F.col("rn_a") - F.col("rn_b") <= F.lit(SEM_CELL_CAP))
    )
    a = (a_side if a_side is not None else ranked).select(
        "vec_id",
        "cid",
        "cent_sim",
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("rn").alias("rn_a"),
        blk.alias("blk_a"),
    )
    b = (b_side if b_side is not None else ranked).select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid").alias("cid_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("rn").alias("rn_b"),
        F.explode(F.array(*[blk + F.lit(o) for o in offsets])).alias("probe_blk"),
    )
    return a.join(
        b,
        (F.col("cid") == F.col("cid_b"))
        & (F.col("blk_a") == F.col("probe_blk"))
        & band,
    )


def _pair_cos_batched(cand: DataFrame, keep: list[str]) -> DataFrame:
    """(keep..., cos): the candidate pair cosine evaluated as Arrow
    batches through numpy instead of a JVM higher-order ``_dot`` —
    Spark never codegens lambda functions, so that form evaluates
    interpreted at ~15 µs/pair, three times the cost of the band join
    that produced the pair (measured; guide §4.2: hand whole batches to
    vectorized native code). Only the four pair columns plus ``keep``
    cross the Python boundary, and only (keep..., cos) come back. The
    raw dot/denominator come back UNROUNDED and the shared ROUND(…,4) +
    -1.0 zero-norm sentinel are applied in Spark, matching the oracle's
    ROUND(list_cosine_similarity(…), 4) rendering; einsum's pairwise
    summation differs from the sequential fold by ≲1 ULP, inside the
    ROUND(4) tolerance this family's oracle already grants cosines
    (values the engines compute via different internal algorithms)."""
    from kinesis_test_spark.operators.similarity import DIM

    fields = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    out_schema = ", ".join(
        [f"{k} {fields[k]}" for k in keep] + ["cos_raw double"]
    )

    def cos_batches(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            a = np.asarray(
                batch.column("ea").flatten(), dtype=np.float64
            ).reshape(n, DIM)
            b = np.asarray(
                batch.column("eb").flatten(), dtype=np.float64
            ).reshape(n, DIM)
            dots = np.einsum("ij,ij->i", a, b)
            na = batch.column("na").to_numpy(zero_copy_only=False)
            nb = batch.column("nb").to_numpy(zero_copy_only=False)
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / denom
            # try_divide semantics: a zero denominator is NULL (the Spark
            # side coalesces it to the -1.0 zero-norm sentinel)
            yield pa.RecordBatch.from_arrays(
                [batch.column(k) for k in keep]
                + [pa.array(cos, type=pa.float64(), mask=denom == 0.0)],
                keep + ["cos_raw"],
            )

    return (
        cand.select(*keep, "ea", "eb", "na", "nb")
        .mapInArrow(cos_batches, out_schema)
        .select(
            *keep,
            F.round(F.coalesce(F.col("cos_raw"), F.lit(-1.0)), 4).alias("cos"),
        )
    )


def _sem_dropped(ranked: DataFrame) -> DataFrame:
    """vec_ids dropped by the banded more-keepable-near-dup rule."""
    return (
        _pair_cos_batched(_sem_candidates(ranked), ["vec_id"])
        .filter(F.col("cos") >= SEM_DUP_THRESHOLD)
        .select("vec_id")
        .distinct()
    )


def _sem_assigned(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """The cell-assignment relation q_dedup_semantic shares across its
    joins: valid vectors argmax-assigned to the broadcast coarse codebook,
    with centroid similarity and the precomputed norm. Separate so
    tests/test_plans.py can pin the broadcast-assignment shape — the
    operator checkpoints this relation, which hides its subtree from the
    operator's own formatted plan. ``pred`` restricts WHICH vectors get
    assigned (the incremental operator assigns only the new batch — O(new)
    per run); the codebook always comes from the FULL table, a fixed
    asset shared by every run. Identity-less vectors (NULL vec_id) are
    excluded at the source: assignment is an identity-grain operation —
    the argmax groups ON vec_id, so two NULL-id vectors would collapse
    into one arbitrary group on both engines (r12 ADVICE; the verdict
    operators carry NULL-id rows out-of-band instead)."""
    from kinesis_test_spark.operators.similarity import assign_cells

    v = (
        t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .filter(vec_valid() & F.col("vec_id").isNotNull())
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
        )
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _N_CELLS).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    if pred is not None:
        v = v.filter(pred)
    # assignment is the shared partial/final max_by argmax (similarity.py
    # assign_cells — map-side combine, no n×k window sort); the oracle's
    # rn=1 over `sim DESC, cid ASC` matches its (sim, -cid) ordering key
    return (
        assign_cells(v, cent, ["e"])
        .select("vec_id", "e", "cid", F.col("sim").alias("cent_sim"))
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )


# The shared oracle prefix for the semantic-dedup family: valid vectors
# argmax-assigned to the fixed first-_N_CELLS codebook (rn=1 over
# `sim DESC, cid ASC` — the exact mirror of assign_cells' (sim, -cid)
# max_by key). Extracted verbatim from the battle-tested q_dedup_semantic
# oracle so the incremental/eval siblings share one definition.
_SEM_SQL_ASSIGNED = f"""cent AS (SELECT vec_id AS cid, {_SQL_VEC_E} AS ce
              FROM embeddings WHERE vec_id < {_N_CELLS} AND {_SQL_VEC_VALID}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE {_SQL_VEC_VALID} AND vec_id IS NOT NULL),
scored AS (
  SELECT v.vec_id, v.e, cent.cid,
         ROUND(list_cosine_similarity(v.e, cent.ce), 6) AS sim,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_cosine_similarity(v.e, cent.ce), 6) DESC, cent.cid) AS rn
  FROM v, cent),
assigned AS (SELECT vec_id, e, cid, sim AS cent_sim FROM scored WHERE rn = 1)"""


@query(
    "q_dedup_semantic",
    oracle=f"""
WITH {_SEM_SQL_ASSIGNED},
ranked AS (
  SELECT vec_id, e, cid, cent_sim,
         row_number() OVER (PARTITION BY cid
           ORDER BY cent_sim ASC NULLS FIRST, vec_id ASC NULLS FIRST) AS rn
  FROM assigned WHERE vec_id IS NOT NULL),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM ranked a JOIN ranked b
    ON a.cid = b.cid AND b.rn < a.rn AND a.rn - b.rn <= {SEM_CELL_CAP}
   AND ROUND(list_cosine_similarity(a.e, b.e), 4) >= {SEM_DUP_THRESHOLD})
SELECT a.vec_id, a.cid AS cell, a.cent_sim,
       (d.vec_id IS NULL) AS is_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
UNION ALL
SELECT vec_id, CAST(NULL AS BIGINT) AS cell, CAST(NULL AS DOUBLE) AS cent_sim,
       TRUE AS is_kept
FROM embeddings WHERE vec_id IS NULL AND {_SQL_VEC_VALID}
ORDER BY vec_id NULLS FIRST
""",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shape (r10 VERDICT #5 — the one missing
    dedup modality): assign every valid vector to its nearest coarse-
    codebook centroid (the deterministic first-C codebook + broadcast
    argmax of similarity.py's IVF machinery), then within each cell drop
    members that have a more-keepable near-duplicate within the cap-
    bounded rank band (pair cosine ≥ SEM_DUP_THRESHOLD; keepability =
    LOWER centroid similarity per the SemDeDup diversity rule, vec_id
    tie-break; band = the SEM_CELL_CAP immediately-more-keepable ranks,
    the sorted-neighborhood hot-cell guard above) — one keep/drop verdict
    row per vector. Pairs only form INSIDE a cell AND inside the rank
    band (plan-pinned + candidate-count-pinned), so the pair space is
    Σ|cell|·CAP, never n² and never |cell|²; at 100 TB the codebook is
    k-means-trained (q_kmeans) and (cell, rank-block) is the shuffle key,
    same plan. The per-cell rank window sorts a hot cell on one task
    (O(m log m), not quadratic — acceptable; the twophase split applies
    if a single cell outgrows a task). Invalid vectors (NULL/ragged/
    non-finite — vec_valid) are quarantined on both sides; zero-norm
    cosines hit the shared -1.0 sentinel (< threshold, so zero vectors
    are never near-dups and always kept). IDENTITY-LESS vectors (NULL
    vec_id) never enter assignment or the rank band — the argmax groups
    ON vec_id, so two NULL-id vectors would collapse into one arbitrary
    group, and their band rank is engine-arbitrary when tied on cent_sim
    (r12 ADVICE, which can shift OTHER rows across a block boundary).
    They surface kept with NULL cell/cent_sim, each physical row carried
    — the identity-grain convention the dedup family already follows for
    documents."""
    # materialized ONCE (truncate_lineage): ranked fans out to both sides
    # of the banded pair join AND the final verdict join — without it the
    # broadcast-argmax assignment subtree executes three times (r11 review).
    # The assignment plan itself is pinned via _sem_assigned (checkpointing
    # hides it from the operator's formatted plan).
    ranked = truncate_lineage(_sem_ranked(_sem_assigned(spark, sf_dir)))
    dropped = _sem_dropped(ranked).withColumn("is_dropped", F.lit(True))
    verdicts = ranked.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cell"),
        "cent_sim",
        F.col("is_dropped").isNull().alias("is_kept"),
    )
    # identity-less rows: kept by fiat, unassigned — the scan predicate is
    # pushed to parquet, where vec_id IS NULL zone-maps to ~zero row
    # groups at scale
    unidentified = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNull() & vec_valid())
        .select(
            "vec_id",
            F.lit(None).cast("bigint").alias("cell"),
            F.lit(None).cast("double").alias("cent_sim"),
            F.lit(True).alias("is_kept"),
        )
    )
    return verdicts.unionByName(unidentified).orderBy("vec_id")


# ---------------------------------------------------------------------------
# incremental semantic dedup (new batch vs standing cell keepers)
# ---------------------------------------------------------------------------

# Deterministic batch split for the fixture, mirroring q_dedup_incremental:
# every 10th vector plays the "newly arrived" batch; the rest is the
# standing corpus whose keep verdicts a daily pipeline persists between runs.
_SEM_NEW_PRED = "vec_id % 10 = 0"


def sem_standing_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing corpus's per-cell KEPT representatives, persisted once
    per (session, sf_dir) — the canonical set a production pipeline stores
    between runs (the semantic sibling of _spark_signatures). Computed
    with exactly q_dedup_semantic's banded rule restricted to the standing
    corpus."""

    def build() -> DataFrame:
        # checkpointed for the same reason the base operator checkpoints:
        # ranked fans out to both legs of the banded pair join AND the
        # keep-verdict join — without it the broadcast-argmax assignment
        # subtree executes three times (r12 self-review finding, the same
        # fan-out defect the r11 review fixed in q_dedup_semantic).
        ranked = truncate_lineage(
            _sem_ranked(_sem_assigned(spark, sf_dir, pred=~F.expr(_SEM_NEW_PRED)))
        )
        dropped = _sem_dropped(ranked).withColumn("is_dropped", F.lit(True))
        return (
            ranked.join(dropped, "vec_id", "left")
            .filter(F.col("is_dropped").isNull())
            .select("vec_id", "cid", "cent_sim", "e", "nrm")
        )

    return _session_cached(spark, ("sem_keepers", str(sf_dir)), build)


@query(
    "q_dedup_semantic_incremental",
    oracle=f"""
WITH {_SEM_SQL_ASSIGNED},
standing AS (SELECT * FROM assigned WHERE NOT (vec_id % 10 = 0)),
newb AS (SELECT * FROM assigned WHERE vec_id % 10 = 0),
st_ranked AS (
  SELECT vec_id, e, cid, cent_sim,
         row_number() OVER (PARTITION BY cid
           ORDER BY cent_sim ASC NULLS FIRST, vec_id ASC NULLS FIRST) AS rn
  FROM standing),
st_dropped AS (
  SELECT DISTINCT a.vec_id
  FROM st_ranked a JOIN st_ranked b
    ON a.cid = b.cid AND b.rn < a.rn AND a.rn - b.rn <= {SEM_CELL_CAP}
   AND ROUND(list_cosine_similarity(a.e, b.e), 4) >= {SEM_DUP_THRESHOLD}),
keepers AS (
  SELECT s.vec_id, s.e, s.cid, s.cent_sim
  FROM st_ranked s LEFT JOIN st_dropped d ON s.vec_id = d.vec_id
  WHERE d.vec_id IS NULL),
uni AS (
  SELECT vec_id, e, cid, cent_sim, TRUE AS is_new FROM newb
  UNION ALL
  SELECT vec_id, e, cid, cent_sim, FALSE FROM keepers),
uni_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cid
    ORDER BY cent_sim ASC NULLS FIRST, vec_id ASC NULLS FIRST) AS rn
  FROM uni),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM uni_ranked a JOIN uni_ranked b
    ON a.cid = b.cid AND a.is_new AND NOT b.is_new
   AND abs(a.rn - b.rn) <= {SEM_CELL_CAP}
   AND ROUND(list_cosine_similarity(a.e, b.e), 4) >= {SEM_DUP_THRESHOLD})
SELECT n.vec_id, n.cid AS cell, n.cent_sim,
       (d.vec_id IS NULL) AS is_kept
FROM newb n LEFT JOIN dropped d ON n.vec_id = d.vec_id
ORDER BY n.vec_id
""",
)
def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup (r11 VERDICT #3) — the run a production
    pipeline does daily: verdict a NEW batch of vectors against the
    STANDING corpus's kept representatives without recomputing the
    standing side. Per-run cost is O(new)·k for assignment (the codebook
    broadcast argmax over only the new batch — _sem_assigned's pred) plus
    a banded join against the session-persisted keeper set
    (sem_standing_keepers, the state a real pipeline stores between runs).
    A new vector is DROPPED when any standing keeper in its cell within
    the bidirectional SEM_CELL_CAP rank band is a near-duplicate (pair
    cosine ≥ SEM_DUP_THRESHOLD); dedup is against the CANONICAL kept set,
    not against dropped standing members, and — like q_dedup_incremental —
    new×new pairs are out of scope (they verdict in the batch's own full
    run). The union rank co-sorts new vectors and keepers per cell so the
    band is the same sorted-neighborhood guard as the base operator; the
    keeper side probes three blocks (the band runs both directions — a
    keeper may rank above or below the new vector), keeping every
    (cell, block) join group ≤CAP × ≤3·CAP rows."""
    keepers = sem_standing_keepers(spark, sf_dir)
    new = _sem_assigned(spark, sf_dir, pred=F.expr(_SEM_NEW_PRED))
    uni = new.select("vec_id", "cid", "cent_sim", "e", "nrm").withColumn(
        "is_new", F.lit(True)
    ).unionByName(
        keepers.select("vec_id", "cid", "cent_sim", "e", "nrm").withColumn(
            "is_new", F.lit(False)
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cid").orderBy(
        F.col("cent_sim").asc(), F.col("vec_id").asc()
    )
    # materialized once: the co-ranked relation fans out to both join legs
    # and the verdict join (same discipline as the base operator)
    uni_ranked = truncate_lineage(uni.withColumn("rn", F.row_number().over(w)))
    dropped = (
        _pair_cos_batched(
            _sem_candidates(
                uni_ranked,
                a_side=uni_ranked.filter(F.col("is_new")),
                b_side=uni_ranked.filter(~F.col("is_new")),
                bidirectional=True,
            ),
            ["vec_id"],
        )
        .filter(F.col("cos") >= SEM_DUP_THRESHOLD)
        .select("vec_id")
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        uni_ranked.filter(F.col("is_new"))
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            "cent_sim",
            F.col("is_dropped").isNull().alias("is_kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# semantic-dedup quality eval (band recall vs exact within-cell truth)
# ---------------------------------------------------------------------------

# The tighter threshold dial measured next to the family default. 0.45 is
# data-informed: the fixture's within-cell pair-cosine tail reaches ~0.49
# at sf0.01 / ~0.53 at sf0.1, so this dial keeps a non-empty truth set at
# every gate scale (7 / 48 pairs) while 0.5+ would read an all-zero row.
SEM_EVAL_STRICT = 0.45


def _sem_eval_oracle() -> str:
    dials = []
    for label, thr in (("t0.40", SEM_DUP_THRESHOLD), ("t0.45", SEM_EVAL_STRICT)):
        dials.append(
            f"""
  SELECT '{label}' AS dial,
         CAST((SELECT COUNT(*) FROM pairs_band WHERE cos >= {thr}) AS BIGINT) AS n_pred,
         CAST((SELECT COUNT(*) FROM pairs_all WHERE cos >= {thr}) AS BIGINT) AS n_truth"""
        )
    dial_union = "\n  UNION ALL".join(dials)
    return f"""
WITH {_SEM_SQL_ASSIGNED},
ranked AS (
  SELECT vec_id, e, cid, cent_sim,
         row_number() OVER (PARTITION BY cid
           ORDER BY cent_sim ASC NULLS FIRST, vec_id ASC NULLS FIRST) AS rn
  FROM assigned WHERE vec_id IS NOT NULL),
pairs_all AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb,
         ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos
  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.vec_id < b.vec_id),
pairs_band AS (
  SELECT LEAST(a.vec_id, b.vec_id) AS pa, GREATEST(a.vec_id, b.vec_id) AS pb,
         ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos
  FROM ranked a JOIN ranked b
    ON a.cid = b.cid AND b.rn < a.rn AND a.rn - b.rn <= {SEM_CELL_CAP}),
dials AS ({dial_union})
SELECT dial, n_pred, n_truth,
       (n_truth - n_pred) AS n_missed,
       CAST(n_pred AS DOUBLE) / NULLIF(n_truth, 0) AS recall
FROM dials
ORDER BY dial
"""


@query("q_dedup_semantic_eval", oracle=_sem_eval_oracle())
def q_dedup_semantic_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality readout for the semantic-dedup band (r11 VERDICT #8): how
    many true within-cell near-dup pairs the SEM_CELL_CAP sorted-
    neighborhood band recovers, at TWO threshold dials side by side (the
    family default 0.4 and the stricter SEM_EVAL_STRICT — tighter pairs
    have closer centroid similarities, so the band's recall should RISE
    with the threshold: the locality argument measured, not asserted,
    and never BELOW the default's). Truth = ALL
    within-cell pairs at the dial threshold (unbounded — at 100 TB the
    truth side runs on a sample BY DESIGN, exactly like q_dedup_eval's
    exact-Jaccard side); predicted = the banded candidate pairs the
    production operator actually compares. Banded pairs are a SUBSET of
    truth by construction (same cells, same cosine, the band only
    prunes), so precision is identically 1 and the readout is
    n_pred / n_truth / n_missed / recall. Identity-less vectors are
    quarantined from the EVAL only (pair identity needs an id; the dedup
    verdict itself keeps them)."""
    ranked = truncate_lineage(
        _sem_ranked(
            _sem_assigned(spark, sf_dir, pred=F.col("vec_id").isNotNull())
        )
    )
    t_a = ranked.select(
        "vec_id", "cid", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    t_b = ranked.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid").alias("cid_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs_all = _pair_cos_batched(
        t_a.join(
            t_b,
            (F.col("cid") == F.col("cid_b")) & (F.col("vec_id") < F.col("vec_b")),
        ),
        [],
    ).select("cos")
    pairs_band = _pair_cos_batched(_sem_candidates(ranked), []).select("cos")

    def dial(label: str, thr: float) -> DataFrame:
        pred = pairs_band.filter(F.col("cos") >= thr).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pred")
        )
        truth = pairs_all.filter(F.col("cos") >= thr).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth")
        )
        return pred.crossJoin(F.broadcast(truth)).select(
            F.lit(label).alias("dial"),
            "n_pred",
            "n_truth",
            (F.col("n_truth") - F.col("n_pred")).alias("n_missed"),
            F.try_divide(F.col("n_pred").cast("double"), F.col("n_truth")).alias(
                "recall"
            ),
        )

    return (
        dial("t0.40", SEM_DUP_THRESHOLD)
        .unionByName(dial("t0.45", SEM_EVAL_STRICT))
        .orderBy("dial")
    )


# ---------------------------------------------------------------------------
# segment-level (paragraph) dedup — CCNet-style
# ---------------------------------------------------------------------------

SEG_WORDS = 10  # words per segment ("paragraph" proxy for the word-soup docs)


@query(
    "q_dedup_paragraph",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
segs AS (
  SELECT doc_id,
         md5(array_to_string(w[(i*{SEG_WORDS}+1):(i*{SEG_WORDS}+{SEG_WORDS})],
                             ' ')) AS h
  FROM docs,
       UNNEST(generate_series(
         0, CAST(ceil(len(w) / {SEG_WORDS}.0) AS BIGINT) - 1)) AS u(i)),
seg_df AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY h)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_segs,
       -- raw IEEE quotient of exact counts — bit-identical cross-engine;
       -- ROUND only adds decimal-halfway ties (round-10 finding)
       CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
FROM segs s JOIN seg_df d ON s.h = d.h
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (CCNet-style; the reference's corpus has no
    newlines, so 'paragraph' = consecutive 10-word segment): hash every
    segment, build the corpus-wide segment-document-frequency index, and
    score each document by the fraction of its segments that also appear
    in ANOTHER document. Both relations shuffle on the md5 segment hash —
    bounded keys, no string payloads on the exchange — then one regroup by
    doc_id. The index is the same relation a production pipeline persists
    to drop boilerplate paragraphs before training. No n² anywhere: cost
    is O(total segments) through two hash shuffles."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    seg_hash = F.expr(
        f"transform(sequence(0, int(ceil(size(w) / {SEG_WORDS}.0)) - 1),"
        f" i -> md5(array_join(slice(w, i*{SEG_WORDS}+1, {SEG_WORDS}), ' ')))"
    )
    segs = d.select("doc_id", F.explode(seg_hash).alias("h"))
    seg_df = segs.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return (
        segs.join(seg_df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            dup.cast("bigint").alias("n_dup_segs"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph (authority from co-occurrence)
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERATIONS = 3


def order_item_pairs(li: DataFrame) -> DataFrame:
    """(l_orderkey, pa, pb): within-order distinct item pairs (pa < pb),
    one row per (order, pair) — the co-purchase edge generator shared by
    q_graph_pagerank / q_graph_triangles / q_basket_rules. Computed
    GROUP-LOCALLY: one shuffle on the order key, collect_set per order,
    k² pair explode in-row (k = lines per order, spec-bounded) — the
    equivalent lineitem self-join shuffles the relation a second time
    and materializes the join, measured 1.5× slower at sf0.1 with
    identical output. NULL l_partkey never pairs in either form
    (collect_set drops NULLs; the join's < predicate rejects them), and
    NULL l_orderkey rows are quarantined explicitly: groupBy keeps NULL
    keys as ONE group, so identity-less lines would otherwise collapse
    into a single pseudo-order and pair with each other — edges the
    self-join form (and every consumer's oracle) never emits (r14
    ADVICE; the identity-grain NULL-key class)."""
    per_order = (
        li.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    return per_order.select(
        "l_orderkey",
        F.explode(
            F.expr(
                "flatten(transform(ps, x -> filter(transform(ps, "
                "y -> IF(x < y, struct(x AS pa, y AS pb), null)), "
                "p -> p IS NOT NULL)))"
            )
        ).alias("p"),
    ).select("l_orderkey", F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))


def _pagerank_oracle() -> str:
    base = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
edges AS (SELECT pa AS u, pb AS v FROM pairs
          UNION ALL SELECT pb AS u, pa AS v FROM pairs),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT node, d, 1.0 / nn.n AS r FROM deg, nn)"""
    step = """,
r{next} AS (
  SELECT tgt.node, tgt.d,
         {tele} / nn.n + {damp} *
         {contrib} AS r
  FROM edges e
  JOIN r{cur} src ON src.node = e.u
  JOIN deg tgt ON tgt.node = e.v, nn
  GROUP BY tgt.node, tgt.d, nn.n)"""
    contrib = sql_exact_sum("src.r / src.d", 28, 18, guard=False)
    for i in range(PR_ITERATIONS):
        base += step.format(
            next=i + 1,
            cur=i,
            tele=round(1 - PR_DAMPING, 6),
            damp=PR_DAMPING,
            contrib=contrib,
        )
    return base + f"""
SELECT node AS p_partkey, d AS degree, ROUND(r, 6) AS pagerank
FROM r{PR_ITERATIONS} ORDER BY pagerank DESC, p_partkey
LIMIT 50
"""


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (two parts are adjacent
    when they share an order), 3 fixed iterations, d=0.85 — co-occurrence
    authority, the same shape as doc-citation or session-transition rank.
    The edge build is a lineitem self-join on l_orderkey — co-partitioned
    single shuffle, and the pair explode is bounded by lines-per-order
    (≤7 in spec TPC-H; 13 in this fixture), so it scales as O(orders·k²),
    never |parts|². Each PR
    iteration is one edges⋈ranks join + one groupBy on the target node
    with the neighbor sum routed through decimal(28,18): ranks are
    partial-agg-order independent, so a cluster rerun reproduces them
    bit-for-bit. N joins in as a broadcast 1-row aggregate (no driver
    collect). Nodes are pair endpoints — degree ≥ 1, no dangling mass."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # materialized ONCE, at the PAIR grain: the pair-generator edge build
    # otherwise re-executes inside every iteration's contrib join (3×)
    # and the degree/N subtrees (the r11/r12 fan-out class, which this
    # operator had never received). Checkpointing BEFORE the
    # both-directions union matters: a union of the pair subtree with
    # itself puts that subtree in the plan twice, so the
    # checkpoint-the-union form executed the collect_set + explode +
    # distinct pipeline TWICE inside one job (measured ~0.5-2 s at
    # sf0.1); the union of two checkpoint READS is map-side free. deg
    # likewise feeds every iteration's rank join; nn is checkpointed so
    # the per-iteration broadcast reads one tiny file instead of
    # re-aggregating deg.
    pairs = truncate_lineage(order_item_pairs(li).select("pa", "pb").distinct())
    edges = pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = truncate_lineage(
        edges.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        )
    )
    nn = truncate_lineage(deg.agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "node", "d", "n", (F.lit(1.0) / F.col("n")).alias("r")
    )
    tele = round(1 - PR_DAMPING, 6)
    for _ in range(PR_ITERATIONS):
        # contribution PRE-DIVIDED per source node before the edge join
        # (guide §2.3: shuffle fewer bytes / compute once): the quantized
        # r/d term is a per-NODE value, so evaluating it on the |nodes|
        # rank relation instead of inside the |edges| join projection
        # computes it once per node (not once per edge) and the join
        # carries one decimal instead of (d, r) — value-identical, the
        # decimal sum is order-independent either way. Join strategy
        # chosen deliberately (guide §3): the rank side's crossJoin-
        # with-nn wrecks its size estimate (crossJoin stats multiply raw
        # byte counts), so the planner was BROADCASTING THE EDGES —
        # a |E|-row driver-side hash build per iteration, the wrong side
        # at every scale where |E| > |V| (always, for co-purchase
        # graphs). SHUFFLE_HASH on the rank side hash-shuffles both
        # legs and builds from |V|/P rows per partition — no giant
        # broadcast locally (measured 4.9 s → 2.2 s for the 3-iteration
        # tail at sf0.1) and memory-safe at 100 TB where |V| outgrows
        # any broadcast threshold.
        contrib = edges.join(
            ranks.select(
                F.col("node").alias("src"),
                cents_term(F.col("r") / F.col("d"), 28, 18, guard=False).alias("term"),
            ).hint("shuffle_hash"),
            F.col("u") == F.col("src"),
        ).select("v", "term")
        summed = contrib.groupBy(F.col("v").alias("node")).agg(
            (F.sum("term").cast("double") / F.lit(1.0e18)).alias("nbr_sum")
        )
        ranks = (
            deg.join(summed, "node")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                "d",
                "n",
                (F.lit(tele) / F.col("n") + PR_DAMPING * F.col("nbr_sum")).alias("r"),
            )
        )
    return (
        ranks.select(
            F.col("node").alias("p_partkey"),
            F.col("d").alias("degree"),
            F.round("r", 6).alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), "p_partkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph (degree-ordered orientation)
# ---------------------------------------------------------------------------

TRI_MIN_QTY = 40  # co-purchase edges from high-quantity lines only


def _triangles_oracle() -> str:
    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= {TRI_MIN_QTY}),
pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs) ends
  GROUP BY node),
oriented AS (
  SELECT CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pa ELSE p.pb END AS src,
         CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pb ELSE p.pa END AS dst,
         CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN db.d ELSE da.d END AS dst_d
  FROM pairs p JOIN deg da ON da.node = p.pa JOIN deg db ON db.node = p.pb),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.src = e1.src
    AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
summary AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg),
edges AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
SELECT s.n_nodes, e.n_edges, s.n_wedges, t.n_triangles,
       CAST(3 * t.n_triangles AS DOUBLE) / NULLIF(s.n_wedges, 0) AS clustering
FROM summary s, edges e, tri t
"""


@query("q_graph_triangles", oracle=_triangles_oracle())
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (edges between parts sharing a high-quantity order
    line), via DEGREE-ORDERED ORIENTATION: every undirected edge points
    from its lower-(degree, node) endpoint to the higher, so each triangle
    is counted exactly once as src->b, src->c, b->c — and a node's
    oriented out-degree is bounded by O(sqrt(m)) regardless of its raw
    degree, which bounds the wedge join's intermediate at O(m^1.5) where
    the naive all-wedges join is quadratic in the hottest degree (the
    standard scalable triangle algorithm). No global rank is assigned:
    orientation compares the (d, node) tuple directly (struct comparison,
    JVM-side), so there is no dimension-wide window/sort stage at all.
    Endpoints of a join-produced pair are non-NULL by construction (a
    NULL l_partkey fails the < predicate on both engines). clustering =
    3*triangles/wedges is an exact-integer quotient (no ROUND);
    try_divide/NULLIF guards the zero-wedge (empty-input) case."""
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= TRI_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    # Materialize the distinct edge list: it feeds the orientation join's
    # left leg plus both degree lookups (and deg itself reads it twice) —
    # without the cut the pair generator would run five times.
    pairs = truncate_lineage(
        order_item_pairs(li).select("pa", "pb").distinct()
    )
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionByName(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("deg_a"))
    db_ = deg.select(F.col("node").alias("pb"), F.col("d").alias("deg_b"))
    j = pairs.join(da, "pa").join(db_, "pb")
    a_first = F.struct(
        F.col("deg_a").alias("k1"), F.col("pa").alias("k2")
    ) < F.struct(F.col("deg_b").alias("k1"), F.col("pb").alias("k2"))
    # Materialize the oriented edge list once: it feeds THREE join legs
    # (e1/e2/e3) and Spark does not CSE across self-join branches — without
    # the cut, the whole pairs+deg pipeline (and its lineitem scans) runs
    # three times (same discipline as q_dedup_semantic's _sem_assigned).
    oriented = truncate_lineage(
        j.select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_d"),
        )
    )
    e1 = oriented.select(
        F.col("src").alias("s1"), F.col("dst").alias("d1"), F.col("dst_d").alias("dd1")
    )
    e2 = oriented.select(
        F.col("src").alias("s2"), F.col("dst").alias("d2"), F.col("dst_d").alias("dd2")
    )
    e3 = oriented.select(F.col("src").alias("s3"), F.col("dst").alias("d3"))
    wedge_lt = F.struct(
        F.col("dd1").alias("k1"), F.col("d1").alias("k2")
    ) < F.struct(F.col("dd2").alias("k1"), F.col("d2").alias("k2"))
    wedges = e1.join(e2, (F.col("s1") == F.col("s2")) & wedge_lt)
    tri_rel = wedges.join(
        e3, (F.col("s3") == F.col("d1")) & (F.col("d3") == F.col("d2"))
    )
    tri = tri_rel.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    summary = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges"),
    )
    edges = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        summary.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.try_divide(
                (3 * F.col("n_triangles")).cast("double"), F.col("n_wedges")
            ).alias("clustering"),
        )
    )


def _keep_best_oracle() -> str:
    return f"""
WITH RECURSIVE {SQL_JACCARD},
{sql_components()},
scored AS (
  -- raw IEEE quotient of exact integers — bit-identical cross-engine,
  -- never ROUNDed (r10 VERDICT #2: ROUND adds decimal-halfway ties)
  SELECT c.doc_id, c.cluster_id,
         CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
               * len(list_distinct(string_split(d.text, ' ')))
               / len(string_split(d.text, ' ')) AS score
  FROM clusters c
  JOIN (SELECT DISTINCT doc_id, text FROM documents WHERE doc_id IS NOT NULL) d
    ON d.doc_id = c.doc_id),
ranked AS (
  SELECT doc_id, cluster_id, score,
         -- placement-independent NULLS encoding (DuckDB 1.0 misplaces NULL
         -- window-sort keys even with an explicit NULLS clause — r9 verdict;
         -- score is NULL for a NULL-text doc)
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY (score IS NOT NULL) DESC, COALESCE(score, 0.0) DESC,
                                     doc_id ASC) AS rn
  FROM scored)
SELECT doc_id, cluster_id, score,
       rn = 1 AS is_kept
FROM ranked ORDER BY doc_id
"""


@query("q_dedup_keep_best", oracle=_keep_best_oracle())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative: within each near-dup cluster
    keep the HIGHEST-scoring copy (lexical-diversity²/length, unique
    doc_id tie-break) — what production dedup actually ships, where
    q_dedup_keeplist's min-doc_id canonical is the cheap default. Reuses
    the session-cached pair relation and the connected-components labels
    (q_dedup_clusters), adds one score projection and a per-cluster
    row_number window whose partitions are near-dup clusters — tiny by
    construction at any corpus scale."""
    from pyspark.sql import Window

    labels = q_dedup_clusters(spark, sf_dir)
    d = unique_docs(spark, sf_dir)
    words = F.split("text", " ")
    n_distinct = F.size(F.array_distinct(words))
    scored = labels.join(d, "doc_id").select(
        "doc_id",
        "cluster_id",
        # raw IEEE quotient of exact integers — bit-identical cross-engine
        (n_distinct.cast("double") * n_distinct / F.size(words)).alias("score"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", "score", (F.col("rn") == 1).alias("is_kept"))
        .orderBy("doc_id")
    )


def _dedup_eval_oracle() -> str:
    shared = f"""
WITH {SQL_MINHASH_SIG},
est AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, {sql_est("sa", "sb")} AS ej
  FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id),
{sql_bands(4, "bands_fine")},
pred_fine AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands_fine a JOIN bands_fine c
    ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
{sql_bands(2, "bands_coarse")},
pred_coarse AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands_coarse a JOIN bands_coarse c
    ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
{_SQL_CAP},
{_SQL_OVERLAP},
dials AS (
  SELECT '4x2' AS dial, p.doc_a, p.doc_b
  FROM pred_fine p JOIN est e ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
  WHERE e.ej >= {MINHASH_THRESHOLD}
  UNION ALL
  SELECT '2x4', p.doc_a, p.doc_b
  FROM pred_coarse p JOIN est e ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
  WHERE e.ej >= {MINHASH_THRESHOLD}),
tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM pairs),
-- the report has one row PER DIAL even when a dial predicts nothing
-- (empty corpus, edge_empty): drive from a literal dial dimension
dialdim AS (SELECT unnest(['2x4', '4x2']) AS dial),
agg AS (
  SELECT d.dial,
         CAST(COUNT(*) AS BIGINT) AS n_pred,
         CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit
  FROM dials d
  LEFT JOIN pairs t ON t.doc_a = d.doc_a AND t.doc_b = d.doc_b
  GROUP BY d.dial)
SELECT dd.dial,
       CAST(COALESCE(a.n_pred, 0) AS BIGINT) AS n_pred,
       tc.n_truth,
       CAST(COALESCE(a.n_hit, 0) AS BIGINT) AS n_hit,
       -- raw IEEE quotients of exact counts (no ROUND; round-10 finding)
       CAST(COALESCE(a.n_hit, 0) AS DOUBLE)
             / NULLIF(COALESCE(a.n_pred, 0), 0) AS precision,
       CAST(COALESCE(a.n_hit, 0) AS DOUBLE)
             / NULLIF(tc.n_truth, 0) AS recall
FROM dialdim dd LEFT JOIN agg a ON a.dial = dd.dial, tc
ORDER BY dd.dial
"""
    return shared


@query("q_dedup_eval", oracle=_dedup_eval_oracle())
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality gate for the dedup family — precision/recall of the
    MinHash+LSH pair set against the exact-Jaccard ground truth, at TWO
    band dials side by side (4 bands × 2 rows = the production default;
    2 bands × 4 rows = the cheaper/stricter dial, which measurably loses
    recall on this corpus — the readout that justifies the default). The
    dedup sibling of q_ann_recall's IVF evaluation. Shingles and the
    exact truth pairs come from the session cache, so the evaluation adds
    one banding pass per dial + k-bounded joins on top of work the family
    already did. At 100 TB the truth side runs on a sample BY DESIGN."""
    truth = _threshold_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("t_a"), F.col("doc_b").alias("t_b")
    )
    n_truth_df = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    # the signature relation is dial-independent — the SESSION-cached copy
    # is shared by both dials' band layouts (and by q_dedup_minhash /
    # q_dedup_verify) instead of re-running the md5 sweep once per join
    # leg per dial
    sig = _spark_signatures(spark, sf_dir)

    def dial(name: str, n_bands: int) -> DataFrame:
        pred = minhash_pairs(sig, n_bands=n_bands).select("doc_a", "doc_b")
        joined = pred.join(
            truth,
            (pred.doc_a == F.col("t_a")) & (pred.doc_b == F.col("t_b")),
            "left",
        )
        return (
            joined.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pred"),
                F.count("t_a").cast("bigint").alias("n_hit"),
            )
            .crossJoin(F.broadcast(n_truth_df))
            .select(
                F.lit(name).alias("dial"),
                "n_pred",
                "n_truth",
                "n_hit",
                F.try_divide(
                    F.col("n_hit").cast("double"), F.col("n_pred")
                ).alias("precision"),
                F.try_divide(
                    F.col("n_hit").cast("double"), F.col("n_truth")
                ).alias("recall"),
            )
        )

    return dial("4x2", 4).unionByName(dial("2x4", 2)).orderBy("dial")


CONTAINMENT_THRESHOLD = 0.9


def _containment_oracle() -> str:
    return f"""
WITH {SQL_JACCARD},
-- the overlap is symmetric: each pair read in both directions
directed AS (
  SELECT doc_a AS contained_doc, doc_b AS container_doc, n_inter, na AS n, jaccard
  FROM jac
  UNION ALL
  SELECT doc_b, doc_a, n_inter, nb, jaccard FROM jac)
SELECT contained_doc, container_doc,
       -- raw IEEE quotient of exact counts (no ROUND; round-10 finding)
       CAST(n_inter AS DOUBLE) / n AS containment,
       jaccard
FROM directed
WHERE n_inter >= {CONTAINMENT_THRESHOLD} * n
ORDER BY contained_doc, container_doc
"""


@query("q_dedup_containment", oracle=_containment_oracle())
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection: doc A is (near-)contained in doc
    B when ≥90% of A's shingles appear in B — catches quotes, excerpts,
    and subset copies that symmetric Jaccard MISSES (a short doc inside a
    long one has tiny Jaccard but containment ≈ 1; both scores are
    reported so the asymmetry is visible). Candidates only from shared
    shingles, never n²: the Jaccard family's overlap kernel (_overlaps)
    over the session-cached capped shingles, each doc_a < doc_b pair read
    in both directions because containment is directional."""
    ov = _overlaps(_kept_shingles(spark, sf_dir))

    def side(contained: str, container: str, n: str) -> Column:
        return F.struct(
            F.col(contained).alias("contained_doc"),
            F.col(container).alias("container_doc"),
            "n_inter",
            F.col(n).alias("n"),
            "jaccard",
        )

    return (
        ov.select(F.inline(F.array(side("doc_a", "doc_b", "na"), side("doc_b", "doc_a", "nb"))))
        .filter(F.col("n_inter") >= CONTAINMENT_THRESHOLD * F.col("n"))
        .select(
            "contained_doc",
            "container_doc",
            (F.col("n_inter").cast("double") / F.col("n")).alias("containment"),
            "jaccard",
        )
        .orderBy("contained_doc", "container_doc")
    )


# ---------------------------------------------------------------------------
# exact-substring (segment-overlap) dedup — Lee et al. shape
# ---------------------------------------------------------------------------

# Sliding-window width in tokens. Lee et al. ("Deduplicating Training Data
# Makes Language Models Better") use 50-token windows at corpus scale; the
# fixture's word-soup docs are 10-99 tokens, so the dial sits at 15 — the
# algorithm is width-independent.
SUBSTR_W = 15

# the ONE oracle mirror of sources.unique_docs (its docstring's
# column-list maintenance rule only works with a single mirror)
_SUBSTR_UNIQ = SQL_UNIQUE_DOCS

# Shared oracle prefix: the sliding window-hash relation (doc_id, i, h) —
# q_dedup_substring localizes spans off it, q_dedup_substring_clusters
# groups the docs sharing those windows.
_SUBSTR_WINS_CTE = f"""docs AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM {_SUBSTR_UNIQ}
  WHERE len(string_split(text, ' ')) >= {SUBSTR_W}),
wins AS (
  SELECT doc_id, i,
         md5(array_to_string(w[i:(i + {SUBSTR_W} - 1)], ' ')) AS h
  FROM docs, UNNEST(generate_series(1, len(w) - {SUBSTR_W} + 1)) AS u(i))"""


def _substring_wins(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """(doc_id, i, h): md5 of every sliding SUBSTR_W-token window — the
    shared relation of the substring-dedup family (Spark mirror of
    _SUBSTR_WINS_CTE). ``pred`` restricts WHICH documents get windowed
    BEFORE the explode (the incremental operator windows only the new
    batch — O(new) per run; the standing-index build windows only the
    standing corpus)."""
    d = (
        # repartition to the session parallelism: the explode+md5 is the
        # CPU-heavy hot map and the single-row-group test fixture would
        # hand it ONE scan task (CLAUDE.md gotcha); at scale the
        # repartition is the same doc_id exchange the identity dedup
        # needs anyway
        unique_docs(
            spark,
            sf_dir,
            cols=["doc_id", "text"],
            partitions=spark.sparkContext.defaultParallelism,
        )
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= SUBSTR_W)
    )
    if pred is not None:
        d = d.filter(pred)
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {SUBSTR_W} + 1), i ->"
                f" struct(i AS i,"
                f" md5(array_join(slice(w, i, {SUBSTR_W}), ' ')) AS h))"
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.i").alias("i"), F.col("x.h").alias("h"))


# Shared oracle tail: the per-doc span rollup over a dup-marked window
# relation `m(doc_id, i, dup)` — the SQL mirror of _substring_span_report,
# used by both the full and the incremental substring operators.
_SUBSTR_SPAN_TAIL_SQL = f"""tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_windows,
               CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_windows
        FROM m GROUP BY doc_id),
isl AS (SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY i ASC NULLS FIRST) AS g
        FROM m WHERE dup),
runs AS (SELECT doc_id, g, COUNT(*) AS run_len FROM isl GROUP BY doc_id, g),
spans AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
                 CAST(MAX(run_len + {SUBSTR_W} - 1) AS BIGINT)
                   AS max_span_tokens
          FROM runs GROUP BY doc_id)
SELECT t.doc_id, t.total_windows, t.dup_windows,
       COALESCE(s.dup_spans, 0) AS dup_spans,
       COALESCE(s.max_span_tokens, 0) AS max_span_tokens,
       -- raw IEEE quotient of exact counts (no ROUND; round-10 finding)
       CAST(t.dup_windows AS DOUBLE) / t.total_windows AS dup_ratio
FROM tot t LEFT JOIN spans s ON t.doc_id = s.doc_id
ORDER BY t.doc_id"""


@query(
    "q_dedup_substring",
    oracle=f"""
WITH {_SUBSTR_WINS_CTE},
hdf AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY h),
m AS (SELECT s.doc_id, s.i, (d.nd >= 2) AS dup
      FROM wins s JOIN hdf d ON s.h = d.h),
{_SUBSTR_SPAN_TAIL_SQL}
""",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at segment grain (Lee et al. "Deduplicating
    Training Data Makes Language Models Better"): hash every SLIDING
    W-token window (W = SUBSTR_W = 15; stride 1 — unlike q_dedup_paragraph's
    disjoint segments, this catches overlaps at ANY alignment), mark a
    window duplicated when its text occurs in >=2 distinct documents,
    and merge consecutive duplicated positions into MAXIMAL SPANS
    (gaps-and-islands on position - row_number), reporting per document
    the duplicated-window coverage plus the span count and the longest
    exact overlap in tokens — the per-doc signal a production pipeline
    thresholds to cut boilerplate and verbatim copies the MinHash family
    (doc-grain, near-dup) cannot localize.

    No suffix array is needed for a bounded window: the full suffix-array
    pass of the paper degenerates, for fixed width W, to the window-hash
    multiset this computes in two hash shuffles. Scale shape (SCALE.md):
    the explode is O(tokens) rows but each carries only (doc_id, pos,
    md5) — 48 bytes, never the window text, so the first Exchange moves
    ~5x the token-ID volume regardless of W; the frequency index groups
    by the hash (uniform keys, no skew), the join back is co-partitioned
    on h by AQE, and every later grain (dup positions, runs, docs)
    shrinks monotonically. Docs shorter than W tokens have no window and
    are out of the report by contract (symmetric both engines — the
    production dial W=50 assumes pre-filtered short docs).

    Reference analog: consumer.py:292-303 suppresses whole redelivered
    batches by sequence number; this is the content-grain generalization
    (identity dedup via sources.unique_docs, then content-span dedup)."""
    wins = _substring_wins(spark, sf_dir)
    # "appears in >=2 distinct docs" == min(doc_id) != max(doc_id) for the
    # NON-NULL ids unique_docs guarantees — one plain aggregate instead of
    # countDistinct's expand + double aggregation (oracle keeps the
    # semantic COUNT(DISTINCT) form; both compute the same predicate)
    hdf = wins.groupBy("h").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("dup")
    )
    m = wins.join(hdf, "h").select("doc_id", "i", "dup")
    return _substring_span_report(m)


# ---------------------------------------------------------------------------
# incremental exact-substring dedup (new batch vs standing window-hash index)
# ---------------------------------------------------------------------------


def substring_standing_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing corpus's DISTINCT window-hash set, persisted once per
    (session, sf_dir) — the (h → seen) index a daily pipeline stores
    between runs (the substring sibling of _spark_signatures and
    sem_standing_keepers). Presence is all the incremental dup test
    needs: a new window that matches ANY standing window is duplicated
    (total distinct-doc count ≥ 2 by construction)."""
    return _session_cached(
        spark,
        ("substr_index", str(sf_dir)),
        lambda: _substring_wins(spark, sf_dir, pred=~F.expr(_NEW_BATCH_PRED))
        .select("h")
        .distinct(),
    )


@query(
    "q_dedup_substring_incremental",
    oracle=f"""
WITH {_SUBSTR_WINS_CTE},
standing AS (SELECT DISTINCT h FROM wins WHERE NOT ({_NEW_BATCH_PRED})),
nw AS (SELECT doc_id, i, h FROM wins WHERE {_NEW_BATCH_PRED}),
m AS (SELECT nw.doc_id, nw.i, (s.h IS NOT NULL) AS dup
      FROM nw LEFT JOIN standing s ON nw.h = s.h),
{_SUBSTR_SPAN_TAIL_SQL}
""",
)
def q_dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup (r12 VERDICT #7) — the daily run:
    localize verbatim overlaps of a NEW document batch against the
    STANDING corpus without rebuilding the corpus-wide window-hash
    frequency index. Only the new batch is windowed and hashed here
    (O(new tokens) map-side — _substring_wins' pred pushes the batch
    predicate below the explode); the standing side is the session-
    persisted distinct-hash index (substring_standing_index — a table a
    real pipeline keeps between runs, appending each batch's hashes after
    its run). A new window is duplicated iff its hash exists in the
    standing index; runs of duplicated positions merge into maximal spans
    by the SAME rollup as the full operator (_substring_span_report /
    the shared oracle tail), so the report shape is identical and a
    threshold tuned on the full run transfers. New×new overlaps are out
    of scope by the family contract (they verdict in the batch's own
    full run — same as q_dedup_incremental and the semantic sibling).
    Presence, not frequency, is the index payload: one distinct hash set,
    no counts to maintain transactionally. Reference analog:
    consumer.py:292-303 (batch-level redelivery suppression); this is the
    content-span generalization at pipeline cadence."""
    new_wins = _substring_wins(spark, sf_dir, pred=F.expr(_NEW_BATCH_PRED))
    idx = substring_standing_index(spark, sf_dir).withColumn(
        "seen", F.lit(True)
    )
    m = new_wins.join(idx, "h", "left").select(
        "doc_id", "i", F.col("seen").isNotNull().alias("dup")
    )
    return _substring_span_report(m)


def _substring_span_report(m: DataFrame) -> DataFrame:
    """The per-doc span rollup over a dup-marked window relation
    (doc_id, i, dup) — shared by the full and incremental substring
    operators (their oracles share the identical CTE tail).

    Single linear pipeline (no branch consuming `m` twice — a branch
    re-derives the explode+md5 from the scan on every arm): islands via
    i - cumulative-dup-count (equal, on dup rows, to i - row_number
    among dup rows), NULL island for non-dup rows so ONE (doc_id, g)
    aggregate carries both the span grouping (g NOT NULL) and the
    non-dup remainder (the g-NULL group), and the per-doc rollup reads
    totals, dup coverage, span count, and max span off that one grain."""
    from pyspark.sql import Window

    wn = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("i").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_dup = F.sum(F.when(F.col("dup"), 1).otherwise(0)).over(wn)
    marked = m.withColumn("g", F.when(F.col("dup"), F.col("i") - cum_dup))
    runs = marked.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    in_span = F.col("g").isNotNull()
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_windows"),
            F.sum(F.when(in_span, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("dup_windows"),
            F.sum(F.when(in_span, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_spans"),
            F.coalesce(
                F.max(F.when(in_span, F.col("cnt") + SUBSTR_W - 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("max_span_tokens"),
        )
        .withColumn(
            "dup_ratio",
            F.col("dup_windows").cast("double") / F.col("total_windows"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_dedup_substring_clusters",
    oracle=f"""
WITH RECURSIVE {_SUBSTR_WINS_CTE},
hd AS (SELECT DISTINCT doc_id, h FROM wins),
agg AS (SELECT h, MIN(doc_id) AS hmin FROM hd
        GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
star AS (
  SELECT hd.doc_id AS doc_a, agg.hmin AS doc_b
  FROM hd JOIN agg USING (h) WHERE hd.doc_id <> agg.hmin),
roster AS (SELECT DISTINCT hd.doc_id FROM hd JOIN agg USING (h)),
{sql_components("star", "roster")},
ev AS (SELECT hd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_hashes
       FROM hd JOIN agg USING (h) GROUP BY hd.doc_id)
SELECT c.doc_id, c.cluster_id, ev.n_dup_hashes,
       (c.doc_id = c.cluster_id) AS is_kept
FROM clusters c JOIN ev USING (doc_id)
ORDER BY c.doc_id
""",
)
def q_dedup_substring_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step over q_dedup_substring's evidence: group the docs
    that share duplicated windows into connected components and pick one
    representative per component — q_dedup_substring localizes WHERE the
    overlap is, this decides WHICH doc keeps it (keep = the cluster's min
    doc_id; a production pipeline would argmax quality instead, the
    q_dedup_keep_best pattern).

    Reuses the window-hash relation (one extra DISTINCT + aggregate over
    it, no new text scan: the (doc, h) grain is localCheckpoint'd once and
    every downstream relation — dup-hash index, edges, roster, evidence —
    derives from the materialized copy). Edges are STAR-LINKED to each
    duplicated hash's min doc (the minhash bucket_cap trick): a hash
    shared by m docs contributes m-1 edges, never m², so a boilerplate
    window shared by thousands of docs stays O(m) — then the shared
    min-label component loop (min_label_components) converges in
    O(log diameter) rounds. Output rows are exactly the docs with >=1
    cross-doc duplicated window; singletons are out by contract (their
    keep decision is trivial).

    Reference analog: consumer.py:292-303 (sequence-number dedup) —
    content-grain generalization, the cross-doc half of q_dedup_substring
    (dedup.py)."""
    hd = truncate_lineage(
        _substring_wins(spark, sf_dir).select("doc_id", "h").distinct()
    )
    # min != max == ">=2 distinct docs" on the already-DISTINCT (doc, h)
    # grain with unique_docs' non-NULL ids (same trick as q_dedup_substring)
    agg = (
        hd.groupBy("h")
        .agg(F.min("doc_id").alias("hmin"), F.max("doc_id").alias("hmax"))
        .filter(F.col("hmin") != F.col("hmax"))
        .select("h", "hmin")
    )
    linked = hd.join(agg, "h").select("doc_id", "hmin")
    star = linked.filter(F.col("doc_id") != F.col("hmin"))
    roster = linked.select("doc_id").distinct()
    ev = linked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_hashes")
    )
    clusters = min_label_components(star, roster)
    return (
        clusters.join(ev, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_dup_hashes",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )
