"""Text analysis over the documents table (NS mandate).

  * q_text_stats       — per-doc token statistics
  * q_text_wordcount   — corpus-level term frequencies (top-k)
  * q_text_langid      — n-gram/stopword-profile language ID heuristic
  * q_text_quality     — quality scoring (length / stopword / char ratios)
  * q_text_tokens      — token counting: whitespace + BPE-ish regex + est.
  * q_text_fingerprint — positional rolling-hash document fingerprint

All pure `pyspark.sql.functions` — split/explode/filter/transform run
inside codegen; nothing leaves the JVM. At 100 TB these are embarrassingly
parallel map-side ops except wordcount's single groupBy(word) (skew-prone
for stopwords → partial aggregation absorbs it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_test_spark.functions.porthash import (
    ascii_lower,
    spark_hex16,
    sql_ascii_lower,
    sql_hex16,
)
from kinesis_test_spark.functions.exact import cents_term, exact_sum, sql_exact_sum
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t, unique_docs

# language "profiles": stopword lists the score counts occurrences of.
LANG_PROFILES = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "fr": ["le", "la", "de", "et"],
}
STOPWORDS = ["the", "a", "of", "and"]


@query(
    "q_text_stats",
    oracle="""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
       CAST(length(text) AS INT) AS n_chars_measured,
       CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         / len(string_split(text, ' ')) AS ttr
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        "lang",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_unique"),
        F.length("text").alias("n_chars_measured"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias("n_spaces"),
        (
            F.size(F.array_distinct(words)).cast("bigint") / F.size(words)
        ).alias("ttr"),
    )


@query(
    "q_text_wordcount",
    oracle="""
SELECT w AS word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY n DESC, word
LIMIT 20
""",
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


def _langid_oracle() -> str:
    scores = ",\n       ".join(
        f"len(list_filter(string_split(text, ' '), w -> w IN "
        f"({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    best = " ".join(
        f"WHEN s_{l} >= greatest({', '.join('s_' + o for o in langs)}) AND s_{l} > 0 "
        f"THEN '{l}'"
        for l in langs
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {scores}
  FROM documents)
SELECT doc_id, lang AS lang_labeled,
       CASE {best} ELSE 'und' END AS lang_pred
FROM scored
"""


@query("q_text_langid", oracle=_langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count profile-word occurrences per
    language, argmax with fixed priority, 'und' when nothing matches."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        *[
            F.size(F.filter(words, lambda w: w.isin(ws))).alias(f"s_{lang}")
            for lang, ws in LANG_PROFILES.items()
        ],
    )
    langs = list(LANG_PROFILES)
    expr = None
    for l in langs:
        cond = (F.col(f"s_{l}") >= F.greatest(*[F.col(f"s_{o}") for o in langs])) & (
            F.col(f"s_{l}") > 0
        )
        expr = F.when(cond, l) if expr is None else expr.when(cond, l)
    return scored.select("doc_id", "lang_labeled", expr.otherwise("und").alias("lang_pred"))


@query(
    "q_text_quality",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       len(list_filter(string_split(text, ' '),
           w -> w IN ({', '.join(repr(w) for w in STOPWORDS)})))
         / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio,
       CAST(length(replace(text, ' ', '')) AS BIGINT) / length(text) AS alpha_ratio,
       ROUND(least(1.0, len(string_split(text, ' ')) / 100.0) *
             (1 - len(list_filter(string_split(text, ' '),
                  w -> w IN ({', '.join(repr(w) for w in STOPWORDS)})))
                / CAST(len(string_split(text, ' ')) AS BIGINT)), 6) AS quality_score
FROM documents
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length saturation × (1 - stopword ratio). The
    component ratios are returned so downstream filters can re-threshold
    without recomputing."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    stop_ratio = n_stop / n_words.cast("bigint")
    # try_divide: an empty document has length 0 and Spark 4 ANSI would
    # error the job; DuckDB's integer 0/0 is natively NULL, so NULL aligns
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace("text", " ", "")).cast("bigint"), F.length("text")
    )
    score = F.round(
        F.least(F.lit(1.0), n_words / F.lit(100.0)) * (1 - stop_ratio), 6
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    )


@query(
    "q_text_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex word/punct split,
    and the chars/4 heuristic LLM pipelines use for budget estimates."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0)).alias(
            "re_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("est_bpe_tokens"),
    )


FP_WORDS = 16
FP_BASE = 7
_POWS = [FP_BASE ** (FP_WORDS - 1 - i) for i in range(FP_WORDS)]


def _fingerprint_oracle() -> str:
    code = sql_hex16("w[i]")
    pows = "[" + ", ".join(str(p) for p in _POWS) + "]"
    return f"""
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(1, least({FP_WORDS}, len(w))),
            i -> {code} * ({pows})[i])) AS BIGINT) AS fingerprint
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


@query("q_text_fingerprint", oracle=_fingerprint_oracle())
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional rolling-hash fingerprint over the first 16 words:
    Σ code(wᵢ)·7^(15-i) with code = portable 16-bit md5 projection. Exact
    int64 arithmetic → associative → order-independent across engines.
    (A modular full-document Rabin-Karp needs a sequential fold — doable
    with F.aggregate, but its oracle is not portably expressible.)"""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    pows = F.array(*[F.lit(p) for p in _POWS])
    terms = F.transform(
        F.sequence(F.lit(1), F.least(F.lit(FP_WORDS), F.size(words))),
        lambda i: spark_hex16(F.element_at(words, i)) * F.element_at(pows, i),
    )
    fp = F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, x: a + x)
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_pipeline_llm",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, text, lang,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({', '.join(repr(w) for w in STOPWORDS)})))
           / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE n_words >= 20 AND stop_ratio <= 0.4
), deduped AS (
  SELECT doc_id, text, lang, n_words FROM (
    -- placement-independent NULLS FIRST encoding (DuckDB 1.0 misplaces NULL
    -- window-sort keys even with an explicit NULLS clause — r9 verdict)
    SELECT *, row_number() OVER (PARTITION BY text
                                 ORDER BY (doc_id IS NOT NULL) ASC, COALESCE(doc_id, 0) ASC,
                                          (lang IS NOT NULL) ASC, COALESCE(lang, '') ASC,
                                          (n_words IS NOT NULL) ASC, COALESCE(n_words, 0) ASC) AS rn FROM kept)
  WHERE rn = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
FROM deduped GROUP BY lang
""",
)
def q_pipeline_llm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep in one plan: quality filter (length +
    stopword ratio) → exact dedup by content (keep min doc_id) → per-language
    token budget. The composition the NS operators exist for; Catalyst fuses
    the filter+score into the scan and the whole pipeline is two shuffles
    (dedup groupBy, final agg)."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(STOPWORDS))) / n_words.cast("bigint")
    kept = (
        d.select("doc_id", "text", "lang", n_words.alias("n_words"), stop_ratio.alias("sr"))
        .filter((F.col("n_words") >= 20) & (F.col("sr") <= 0.4))
    )
    deduped = (
        kept.select("text", F.struct("doc_id", "lang", "n_words").alias("r"))
        .groupBy("text")
        .agg(F.min("r").alias("r"))
        .select("text", "r.*")
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum(F.ceil(F.length("text") / 4.0)).cast("bigint").alias("est_tokens"),
    )


# char-bigram profiles for the n-gram language-ID variant
NGRAM_PROFILES = {
    "en": ["th", "he", "an", "er", "in"],
    "es": ["de", "la", "os", "el", "en"],
    "fr": ["le", "es", "en", "re", "nt"],
}


def _langid_ngram_oracle() -> str:
    bigrams = (
        "list_transform(generate_series(1, greatest(length(text) - 1, 0)),"
        " i -> substr(text, i, 2))"
    )
    scores = ",\n       ".join(
        f"len(list_filter({bigrams}, b -> b IN ({', '.join(repr(g) for g in gs)})))"
        f" AS s_{lang}"
        for lang, gs in NGRAM_PROFILES.items()
    )
    langs = list(NGRAM_PROFILES)
    best = " ".join(
        f"WHEN s_{l} >= greatest({', '.join('s_' + o for o in langs)}) AND s_{l} > 0 "
        f"THEN '{l}'"
        for l in langs
    )
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
SELECT doc_id, lang AS lang_labeled,
       CASE {best} ELSE 'und' END AS lang_pred,
       {', '.join('s_' + l for l in langs)}
FROM scored
"""


@query("q_text_langid_ngram", oracle=_langid_ngram_oracle())
def q_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (the classic heuristic): count how many
    of the text's char-bigrams hit each language's profile set, argmax with
    fixed priority. All JVM-side array ops — the score columns are also
    returned for downstream thresholding."""
    d = t(spark, sf_dir, "documents")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 1, F.lit(0))),
        lambda i: F.col("text").substr(i, F.lit(2)),
    )
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        *[
            F.size(F.filter(bigrams, lambda b: b.isin(gs))).alias(f"s_{lang}")
            for lang, gs in NGRAM_PROFILES.items()
        ],
    )
    langs = list(NGRAM_PROFILES)
    expr = None
    for l in langs:
        cond = (F.col(f"s_{l}") >= F.greatest(*[F.col(f"s_{o}") for o in langs])) & (
            F.col(f"s_{l}") > 0
        )
        expr = F.when(cond, l) if expr is None else expr.when(cond, l)
    return scored.select(
        "doc_id", "lang_labeled", expr.otherwise("und").alias("lang_pred"),
        *[f"s_{l}" for l in langs],
    )


TFIDF_TOP_K = 3


@query(
    "q_text_tfidf",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, w AS word, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n),
ranked AS (
  SELECT doc_id, word, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
  FROM scored)
SELECT doc_id, word, tfidf, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {TFIDF_TOP_K}
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-k terms per document: term counts (one groupBy),
    document frequencies (one groupBy on the tf table — already tiny),
    idf = ln(N/df) broadcast back, ranked-window top-k per doc.
    Shuffles: by (doc, word), by word, by doc — each carrying aggregated
    rows, never raw tokens twice. Scores rounded 6dp (ln differs in last
    ulp across libm implementations)."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = d.count()  # scalar; the driver-side count replaces a cross join
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.select("doc_id", "word", "tfidf", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TFIDF_TOP_K)
    )


CHUNK_WORDS = 32
CHUNK_STRIDE = 24  # 8-word overlap


@query(
    "q_text_chunk",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(words[chunk_idx * {CHUNK_STRIDE} + 1 :
                              chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}], ' ') AS chunk_text,
       CAST(len(words[chunk_idx * {CHUNK_STRIDE} + 1 :
                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}]) AS INT) AS n_words
-- spine derived PER DOC (was a fixed generate_series(0, 63), a silent
-- 64-chunk cap the fixture never hit — edge class 19 planted a
-- 20k-word doc and Spark emitted 625 chunks to the oracle's 64)
FROM w, UNNEST(generate_series(
       0, CAST(ceil(len(words) / {CHUNK_STRIDE}.0) AS BIGINT) - 1)) AS u(chunk_idx)
WHERE chunk_idx * {CHUNK_STRIDE} < len(words)
""",
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: split each document into 32-word chunks
    with 8-word overlap (stride 24) — the map-side row expansion every
    context-window pipeline needs. Chunk count is data-dependent; the last
    chunk may be short but is never empty."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = F.split("text", " ")
    n_chunks = F.ceil(F.size(words) / F.lit(CHUNK_STRIDE)).cast("int")
    chunked = d.select(
        "doc_id",
        words.alias("words"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).filter(F.col("chunk_idx") * CHUNK_STRIDE < F.size("words"))
    chunk = F.slice(
        F.col("words"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_WORDS
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_words"),
    )


VOCAB_SIZE = 20


@query(
    "q_text_tokenize_ids",
    oracle=f"""
WITH docs AS (SELECT DISTINCT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
counts AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM docs)
  GROUP BY w),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS token_id
  FROM counts ORDER BY n DESC, word LIMIT {VOCAB_SIZE}),
w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
positioned AS (
  -- spine derived PER DOC (was generate_series(1, 600), a silent
  -- 600-position cap — edge class 19)
  SELECT doc_id, i, words[i] AS word
  FROM w, UNNEST(generate_series(1, len(words))) AS u(i)),
coded AS (
  SELECT p.doc_id, p.i, COALESCE(v.token_id, 0) AS tid
  FROM positioned p LEFT JOIN vocab v ON v.word = p.word)
SELECT doc_id,
       string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i) AS token_ids,
       CAST(COUNT(*) FILTER (WHERE tid = 0) AS BIGINT) AS n_oov
FROM coded GROUP BY doc_id
""",
)
def q_text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coded tokenization (the text→token-id step of training
    prep): the vocab (top-{VOCAB_SIZE} corpus terms, rank = id, OOV = 0) is
    computed once, collected (it is tiny by construction), and broadcast
    into an Arrow-batched mapInPandas that codes every document. The
    pattern scales: a real 100k-entry tokenizer vocabulary is still
    broadcast-sized, and the coding pass stays embarrassingly parallel."""
    import pandas as pd

    # one row per doc IDENTITY (sources.unique_docs contract): a
    # redelivered copy must neither double the vocab's term counts nor
    # emit its token row twice (tests/test_edge_dupkeys.py)
    d = unique_docs(
        spark, sf_dir, partitions=spark.sparkContext.defaultParallelism
    )
    vocab_rows = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(VOCAB_SIZE)
        .collect()
    )
    vocab = {r["word"]: i + 1 for i, r in enumerate(vocab_rows)}
    bc = spark.sparkContext.broadcast(vocab)

    def code(batches):
        v = bc.value
        for pdf in batches:
            # a NULL text has no token positions — dropped, matching the
            # oracle's `i <= len(words)` (NULL) join (probe_nulls class 5)
            pdf = pdf[pdf["text"].notna()]
            ids = pdf["text"].map(
                lambda s: [v.get(tok, 0) for tok in s.split(" ")]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "token_ids": ids.map(lambda xs: ",".join(str(x) for x in xs)),
                    "n_oov": ids.map(lambda xs: sum(1 for x in xs if x == 0)),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        code, schema="doc_id bigint, token_ids string, n_oov bigint"
    )


PACK_CAPACITY = 256  # words per training sequence


@query(
    "q_text_pack",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
           WHERE doc_id IS NOT NULL),
chunks AS (
  -- spine derived PER DOC (was a fixed 64-chunk cap — edge class 19)
  SELECT doc_id, chunk_idx,
         len(words[chunk_idx * {CHUNK_STRIDE} + 1 :
                   chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}]) AS n_words
  FROM w, UNNEST(generate_series(
         0, CAST(ceil(len(words) / {CHUNK_STRIDE}.0) AS BIGINT) - 1)) AS u(chunk_idx)
  WHERE chunk_idx * {CHUNK_STRIDE} < len(words)),
ordered AS (
  SELECT doc_id, chunk_idx, n_words,
         SUM(n_words) OVER (ORDER BY doc_id NULLS FIRST, chunk_idx
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM chunks)
SELECT CAST((cum - n_words) // {PACK_CAPACITY} AS BIGINT) AS pack_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(n_words) AS BIGINT) AS total_words
FROM ordered GROUP BY pack_id
""",
)
def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign document chunks to fixed-budget training
    packs by running word count (pack = floor(preceding-total / capacity) —
    the streaming first-fit approximation; packs can overflow by at most
    one chunk, never underfill mid-stream). A global ordered cumsum is a
    single-partition window — at 100 TB, pack within shards (add the shard
    key to the PARTITION BY) and the pack ids stay deterministic per shard.

    Identity-less docs quarantined (edge_dupkeys): the global cumsum
    orders by doc_id, and rows without one have no deterministic
    position (Spark sorts NULL first, DuckDB last — and two NULL-id
    docs tie with each other)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    words = F.split("text", " ")
    n_chunks = F.ceil(F.size(words) / F.lit(CHUNK_STRIDE)).cast("int")
    chunks = (
        d.select(
            "doc_id",
            words.alias("words"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .filter(F.col("chunk_idx") * CHUNK_STRIDE < F.size("words"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size(
                F.slice(F.col("words"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_WORDS)
            ).alias("n_words"),
        )
    )
    w = Window.orderBy("doc_id", "chunk_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ordered = chunks.select(
        "doc_id", "chunk_idx", "n_words", F.sum("n_words").over(w).alias("cum")
    )
    return (
        ordered.select(
            F.floor((F.col("cum") - F.col("n_words")) / PACK_CAPACITY).alias("pack_id"),
            "n_words",
        )
        .groupBy("pack_id")
        .agg(F.count("*").alias("n_chunks"), F.sum("n_words").cast("bigint").alias("total_words"))
    )


MIX_DOC_PCT = 90  # documents share of the mixture (events-text gets the rest)


@query(
    "q_mixture",
    oracle=f"""
WITH doc_side AS (
  SELECT 'documents' AS source_ds, CAST(doc_id AS BIGINT) AS item_id, text AS sample_text
  FROM documents
  WHERE ((strpos('0123456789abcdef', substr(md5('mixd|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substr(md5('mixd|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substr(md5('mixd|' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5('mixd|' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1))
       < {MIX_DOC_PCT * 65536 // 100}),
event_side AS (
  SELECT 'events', event_id, event_type || ' by user ' || CAST(user_id AS VARCHAR)
  FROM events
  WHERE ((strpos('0123456789abcdef', substr(md5('mixe|' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substr(md5('mixe|' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substr(md5('mixe|' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5('mixe|' || CAST(event_id AS VARCHAR)), 4, 1)) - 1))
       < {(100 - MIX_DOC_PCT) * 65536 // 100})
SELECT * FROM doc_side UNION ALL SELECT * FROM event_side
""",
)
def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset mixture: sample ~{90}% of documents and ~{10}%
    of synthesized event-text through salted content hashes, union with
    source tags — the reproducible mixing step of a training-data recipe
    (same record always lands in the same mixture regardless of
    partitioning or engine)."""
    from kinesis_test_spark.functions.porthash import spark_hex16

    d = t(spark, sf_dir, "documents")
    ev = t(spark, sf_dir, "events")
    doc_keep = spark_hex16(
        F.concat(F.lit("mixd|"), F.col("doc_id").cast("string"))
    ) < (MIX_DOC_PCT * 65536 // 100)
    ev_keep = spark_hex16(
        F.concat(F.lit("mixe|"), F.col("event_id").cast("string"))
    ) < ((100 - MIX_DOC_PCT) * 65536 // 100)
    doc_side = d.filter(doc_keep).select(
        F.lit("documents").alias("source_ds"),
        F.col("doc_id").alias("item_id"),
        F.col("text").alias("sample_text"),
    )
    event_side = ev.filter(ev_keep).select(
        F.lit("events").alias("source_ds"),
        F.col("event_id").alias("item_id"),
        F.concat(F.col("event_type"), F.lit(" by user "), F.col("user_id").cast("string")).alias(
            "sample_text"
        ),
    )
    return doc_side.unionByName(event_side)


BIGRAM_MIN_COUNT = 5


@query(
    "q_text_bigrams",
    oracle=f"""
WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM words)
SELECT bigram, COUNT(*) AS n
FROM bg GROUP BY bigram HAVING COUNT(*) >= {BIGRAM_MIN_COUNT}
""",
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics (the n-gram LM / tokenizer-merge-rule
    counting workload): explode word bigrams, one hash aggregate, keep
    counts >= {5}. A count threshold instead of top-n keeps the result
    tie-break-free across engines. Map-side combine collapses each
    partition to its distinct bigrams before the shuffle — the classic
    wordcount shape at 100 TB."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # split() hoisted into a real column (no CSE inside higher-order-function
    # lambdas — element_at(split(...), i) would re-tokenize per element).
    # slice/zip_with is empty-safe: greatest(size-1, 0) yields zero-length
    # slices for single-word/empty docs (sequence(1, size-1) would be
    # DESCENDING there, and element_at(words, 0) errors under Spark 4 ANSI),
    # matching DuckDB's empty generate_series(1, 0).
    d = d.withColumn("w", F.split("text", " "))
    w = F.col("w")
    k = F.greatest(F.size(w) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(w, 1, k), F.slice(w, 2, k), lambda a, b: F.concat_ws(" ", a, b)
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= BIGRAM_MIN_COUNT)
    )


BENCH_MOD = 50  # doc_id % 50 == 0 -> held-out benchmark/eval set (~2%)
CONTAM_MIN_SHARED = 3


def _contamination_oracle() -> str:
    from kinesis_test_spark.operators.dedup import SQL_KEPT

    return f"""
WITH {SQL_KEPT},
bench AS (SELECT doc_id AS bench_doc_id, s FROM kept WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT doc_id, s FROM kept WHERE doc_id % {BENCH_MOD} <> 0)
SELECT c.doc_id, b.bench_doc_id, COUNT(*) AS n_shared
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id, b.bench_doc_id
HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
"""


@query("q_text_contamination", oracle=_contamination_oracle())
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag corpus documents sharing >= 3
    distinct 3-gram shingles with any held-out eval document (doc_id %
    50 == 0 stands in for the benchmark registry). The eval side's shingle
    index is broadcast — small by construction — so the check is one
    map-side hash join over the corpus shingles, the shape that lets a
    100 TB corpus be swept against every public benchmark in one pass.
    Shares the NGRAM_DF_CAP stop-shingle guard with the dedup family."""
    from kinesis_test_spark.operators.dedup import _kept_shingles

    kept = _kept_shingles(spark, sf_dir)
    bench = kept.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "s"
    )
    corpus = kept.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


N_EXPORT_SHARDS = 8


def _shard_export_oracle() -> str:
    shard = sql_hex16("'shard|' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT {shard} % {N_EXPORT_SHARDS} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       COUNT(DISTINCT doc_id) AS n_unique
FROM documents
GROUP BY shard
"""


@query("q_text_shard_export", oracle=_shard_export_oracle())
def q_text_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export: assign every document to one of 8 shards by a
    salted content-independent hash (same doc -> same shard on any engine
    or partitioning), write each shard as JSONL under shard=N/ dirs, read
    the EXPORT back and return the per-shard manifest (doc count, char
    count, uniqueness) — the artifact a downstream loader consumes.
    One repartition(shard) clusters rows so each shard dir is written by
    its own task set; at 100 TB shard count scales with loader
    parallelism and the manifest is the reconciliation contract."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("shard_export")
    out = d / "jsonl"
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        (
            spark_hex16(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
            % N_EXPORT_SHARDS
        ).alias("shard"),
    )
    docs.repartition("shard").write.partitionBy("shard").mode("overwrite").json(str(out))
    # explicit read-back schema: inference double-scans, types the shard
    # partition dir as INT (the oracle's hash arithmetic is BIGINT), and
    # CRASHES on an empty export (edge_empty corpus — zero shard dirs
    # leave nothing to infer from)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, n_chars bigint, shard bigint"
    ).option("basePath", str(out)).json(str(out))
    return back.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("doc_id").alias("n_unique"),
    )


@query(
    "q_text_logprob",
    oracle=f"""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM freq)
SELECT doc_id,
       {sql_exact_sum("ln(freq.c / tot.t)", 18, 8, guard=False)} AS logprob,
       COUNT(*) AS n_tokens
FROM words JOIN freq USING (w) CROSS JOIN tot
GROUP BY doc_id
""",
)
def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-likelihood per document under the corpus's own unigram
    LM (the cheap perplexity-style quality signal: templated/repetitive
    docs score high, lexically odd docs score low). Corpus frequencies are
    one wordcount aggregate; the per-word log-probs quantize to LONG
    cents at the 1e-8 grain before summation so the doc score is
    independent of addition order (same rule as every float aggregate
    here, in the r14 floor-LONG form). The freq
    join is a shuffle on word — or a broadcast when the vocab is bounded,
    as with q_text_tokenize_ids."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("t"))
    return (
        words.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.log(F.col("c") / F.col("t")).alias("lp"))
        .groupBy("doc_id")
        .agg(
            exact_sum("lp", 18, 8, guard=False).alias("logprob"),
            F.count("*").alias("n_tokens"),
        )
    )


def _pipeline_clean_oracle() -> str:
    from kinesis_test_spark.operators.dedup import SQL_JACCARD, sql_components

    return f"""
WITH RECURSIVE {SQL_JACCARD},
{sql_components()},
contam AS (
  SELECT DISTINCT c.doc_id
  FROM kept c JOIN kept b ON c.s = b.s
  WHERE b.doc_id % {BENCH_MOD} = 0 AND c.doc_id % {BENCH_MOD} <> 0
  GROUP BY c.doc_id, b.doc_id HAVING COUNT(*) >= {CONTAM_MIN_SHARED})
SELECT d.doc_id, d.lang, CAST(length(d.text) AS INT) AS n_chars
FROM documents d
JOIN clusters cl ON cl.doc_id = d.doc_id AND cl.cluster_id = d.doc_id
WHERE len(string_split(d.text, ' ')) >= 20
  AND d.doc_id % {BENCH_MOD} <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
"""


@query("q_pipeline_clean", oracle=_pipeline_clean_oracle())
def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning capstone, composed from the registered family:
    length filter → near-dup removal (keep each cluster's canonical doc,
    via q_dedup_clusters' label propagation) → eval-set holdout removal →
    benchmark-decontamination (q_text_contamination's >= 3-shared-shingle
    rule). Output = the surviving clean corpus a tokenizer would consume.
    Every stage is a join against a (small or bounded) derived table, so
    the corpus is streamed through, never collected."""
    from kinesis_test_spark.operators.dedup import q_dedup_clusters

    d = t(spark, sf_dir, "documents")
    clusters = q_dedup_clusters(spark, sf_dir)
    canonical = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    contam = (
        q_text_contamination(spark, sf_dir)
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.size(F.split("text", " ")) >= 20)
        .filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(canonical, "doc_id", "left_semi")
        # no broadcast hint: the contaminated set is usually tiny but is
        # corpus-bounded in the worst case (a fully-leaked corpus) — let
        # AQE pick broadcast vs shuffle from the actual size
        .join(contam, "doc_id", "left_anti")
        .select("doc_id", "lang", F.length("text").cast("int").alias("n_chars"))
    )


def _split_oracle() -> str:
    h = sql_hex16("'split|' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT CASE WHEN {h} < 58982 THEN 'train'
            WHEN {h} < 62259 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY split
"""


@query("q_sample_split", oracle=_split_oracle())
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5) by salted content hash:
    the same document lands in the same split on any engine, partitioning,
    or rerun — the reproducibility property a training recipe needs
    (random() splits are neither rerunnable nor cross-engine checkable).
    Thresholds are 0.9/0.95 of the 16-bit hash space."""
    h = spark_hex16(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
    split = (
        F.when(h < 58982, "train").when(h < 62259, "val").otherwise("test")
    )
    return (
        t(spark, sf_dir, "documents")
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Generic detector patterns (RE2- and Java-regex-compatible subset).
PII_EMAIL = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
PII_PHONE = "[0-9]{3}-[0-9]{4}"
PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "q_text_pii",
    oracle=f"""
WITH profiles AS (
  SELECT c_custkey,
         c_name || ' contact ' || {sql_ascii_lower("replace(c_name, '#', '')")} ||
         '@example.com tel 555-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
         CAST(CAST(trunc(c_custkey / 256) AS BIGINT) % 256 AS VARCHAR)
           AS profile
  FROM customer)
SELECT c_custkey,
       CAST(len(regexp_extract_all(profile, '{PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(profile, '{PII_PHONE}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(
         regexp_replace(profile, '{PII_EMAIL}', '<EMAIL>', 'g'), '{PII_IP}'))
         AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(
         profile, '{PII_EMAIL}', '<EMAIL>', 'g'),
                  '{PII_IP}', '<IP>', 'g'),
                  '{PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM profiles
ORDER BY c_custkey
""",
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact — the pre-training scrub pass every corpus needs
    (the fixture's word-soup documents carry no contact strings, so the
    scan runs over deterministic customer-derived profile text; the
    DETECTOR patterns are generic, only the test data is synthesized).
    Counting via regexp_extract_all and a three-stage redaction chain
    (email → ip → phone, most-specific first so '<EMAIL>' never re-matches)
    — all JVM-side regex inside codegen, embarrassingly parallel per row,
    no shuffle at all until the presentation sort. IP counting runs on the
    email-redacted text in BOTH engines so the dotted host part of an
    address is never double-counted."""
    c = t(spark, sf_dir, "customer")
    profile = F.concat(
        F.col("c_name"),
        F.lit(" contact "),
        # portable ASCII-only fold: the profile is FABRICATED independently
        # on both engines, and full lower() diverges on İ/Σ (porthash)
        ascii_lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.lit("@example.com tel 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        (F.floor(F.col("c_custkey") / 256) % 256).cast("string"),
    )
    p = c.select("c_custkey", profile.alias("profile"))
    no_email = F.regexp_replace("profile", PII_EMAIL, "<EMAIL>")
    return p.select(
        "c_custkey",
        F.size(F.regexp_extract_all("profile", F.lit(PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("profile", F.lit(PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(no_email, F.lit(PII_IP), F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(no_email, PII_IP, "<IP>"), PII_PHONE, "<PHONE>"
        ).alias("redacted"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# BPE merge-step pair counting (tokenizer-training primitive)
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


@query(
    "q_bpe_pair_counts",
    oracle=f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, n
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS u(i))
SELECT pair, CAST(SUM(n) AS BIGINT) AS merge_count
FROM pairs
GROUP BY pair
ORDER BY merge_count DESC, pair
LIMIT {BPE_TOP_PAIRS}
""",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step: corpus-weighted adjacent-symbol pair counts,
    top candidates first — the inner loop of byte-pair-encoding tokenizer
    training. The trick that makes it scale: pairs are counted over the
    DISTINCT-word relation weighted by word frequency, so the explode runs
    on |vocab| rows (slowly growing) instead of |corpus| tokens (linear in
    data). Words shorter than 2 chars are filtered BEFORE the sequence
    expansion on both engines (Spark's sequence(1,0) would count DOWN, not
    produce empty). Top-k via TakeOrderedAndProject heap."""
    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("merge_count"))
        .orderBy(F.col("merge_count").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# Ordered merge table for q_bpe_encode — the "learned" artifact a BPE
# trainer emits (q_bpe_pair_counts computes one training step; this list is
# the product of such steps, fixed so both engines embed it literally).
# Later merges build on earlier outputs (th+e needs t+h applied first).
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("e", "s"),
    ("a", "t"), ("in", "g"),
]


def _bpe_sql_tokens(var: str) -> str:
    """DuckDB expression: BPE token count of word ``var`` under BPE_MERGES.

    A word becomes a space-delimited symbol string (' h e l l o ') and each
    merge (x, y) is ONE SINGLE-PASS replace(' x y ' -> ' xy '): greedy,
    left-to-right, non-overlapping, with the flanking spaces stopping a
    merge from crossing symbol boundaries ('ab a' never matches pair
    (b, a)). DELIBERATE DEVIATION from canonical BPE on immediately
    consecutive occurrences of the same pair: the trailing space of one
    match is the leading space of the next, so the single pass skips the
    second occurrence — 'aaaa' + (a,a) yields [aa, a, a] where canonical
    greedy yields [aa, aa] (and 'thth' + (t,h) yields [th, t, h]). Both
    engines run the IDENTICAL chain so parity holds by construction; a
    repeat-until-fixpoint replace would need unbounded expression depth
    (the class-19 giant token is a 100k-char run). The defined contract
    is the single-pass application, stated here and in q_bpe_train."""
    s = f"(' ' || regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for x, y in BPE_MERGES:
        s = f"replace({s}, ' {x} {y} ', ' {x}{y} ')"
    return f"(len(string_split({s}, ' ')) - 2)"


def _bpe_spark_tokens(w: Column) -> Column:
    """Spark mirror of ``_bpe_sql_tokens`` (same replace chain)."""
    s = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
    for x, y in BPE_MERGES:
        s = F.replace(s, F.lit(f" {x} {y} "), F.lit(f" {x}{y} "))
    return (F.size(F.split(s, " ")) - 2).cast("bigint")


@query(
    "q_bpe_encode",
    oracle=f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(len(regexp_extract_all({sql_ascii_lower('text')}, '[a-z]+'))
                 AS BIGINT) END AS n_words,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(
                   regexp_extract_all({sql_ascii_lower('text')}, '[a-z]+'),
                   w -> len(w))), 0) AS BIGINT) END AS n_chars,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(
                   regexp_extract_all({sql_ascii_lower('text')}, '[a-z]+'),
                   w -> {_bpe_sql_tokens('w')})), 0) AS BIGINT) END AS n_bpe_tokens
FROM documents
""",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — apply the learned merge table to every document (the
    production tokenizer step q_bpe_pair_counts trains one round of):
    per word, start from the character sequence and apply each merge in
    table order; report per-document word / character / BPE-token counts
    (chars-per-token is the tokenizer-efficiency dial a data pipeline
    monitors per corpus slice).

    The merge chain is an EXPRESSION pipeline, not an iterative plan: R
    merges compile to R nested replace() calls inside one codegen'd
    projection over the token array (F.transform + F.aggregate) — no
    explode, no shuffle, no lineage growth, so no truncate_lineage is
    needed (that tool is for data-dependent iteration like PageRank; a
    fixed merge table is data-independent depth). The alphabet is ASCII
    letter runs (ascii_lower + [a-z]+ both sides): a byte-level BPE would
    hex-encode instead, but a cross-engine regex over astral codepoints
    diverges (Java regex walks UTF-16 units, RE2 walks codepoints), so
    non-ASCII bytes act as token boundaries — symmetric and
    Unicode-version-stable. Merge application is the SINGLE-PASS replace
    contract documented on _bpe_sql_tokens (consecutive same-pair
    occurrences share a delimiter space and the second is skipped —
    deviates from canonical BPE on runs, identically on both engines);
    pinned in test_edge_docs (e.g. 'aaa' + (a,a) -> [aa, a]).

    Reference analog: none (the reference never tokenizes) — this is
    SURVEY §2's LLM-pipeline mandate, the encode step that completes the
    tokenizer story started by q_text_tokenize_ids / q_bpe_pair_counts."""
    d = t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), 0)
    zero = F.lit(0).cast("bigint")
    n_chars = F.aggregate(words, zero, lambda acc, w: acc + F.length(w))
    n_bpe = F.aggregate(words, zero, lambda acc, w: acc + _bpe_spark_tokens(w))
    gate = lambda c: F.when(F.col("text").isNotNull(), c)  # noqa: E731
    return d.select(
        "doc_id",
        gate(F.size(words).cast("bigint")).alias("n_words"),
        gate(n_chars).alias("n_chars"),
        gate(n_bpe).alias("n_bpe_tokens"),
    )


BPE_TRAIN_ROUNDS = 8


def _bpe_train_oracle() -> str:
    """Fully UNROLLED trainer oracle: R rounds of (weighted pair count →
    deterministic argmax → merge application) as chained CTEs — the
    iterative algorithm is oracle-checked end-to-end, not rows-only."""
    from kinesis_test_spark.sources import SQL_UNIQUE_DOCS

    sql = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all({sql_ascii_lower('text')}, '[a-z]+')) AS w
  FROM {SQL_UNIQUE_DOCS}),
vocab0 AS (
  SELECT (' ' || regexp_replace(w, '(.)', '\\1 ', 'g')) AS s,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM words GROUP BY 1)"""
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        p = r - 1
        sql += f""",
pairs{r} AS (
  -- pair explode via list_transform INSIDE the row (q_text_bigrams shape):
  -- the UNNEST(series)-join + syms[i] form re-touches the whole symbol
  -- list per emitted row — quadratic on a 100k-symbol word (class 19's
  -- giant token hung the first draft of this oracle)
  SELECT split_part(pr, ' ', 1) AS x, split_part(pr, ' ', 2) AS y,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(generate_series(1, greatest(len(syms) - 1, 0)),
                  i -> syms[i] || ' ' || syms[i + 1])) AS pr, freq
    FROM (SELECT string_split(trim(s), ' ') AS syms, freq FROM vocab{p}) v)
  GROUP BY 1, 2),
merge{r} AS (
  SELECT CAST({r} AS BIGINT) AS merge_rank, x, y, cnt
  FROM pairs{r} ORDER BY cnt DESC, x, y LIMIT 1),
vocab{r} AS (
  SELECT replace(s, ' ' || m.x || ' ' || m.y || ' ',
                    ' ' || m.x || m.y || ' ') AS s, freq
  FROM vocab{p} v, merge{r} m)"""
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM merge{r}" for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return f"""{sql}
SELECT merge_rank, x AS left_sym, y AS right_sym, x || y AS merged,
       cnt AS pair_count
FROM ({union})
"""


@query("q_bpe_train", oracle=_bpe_train_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAIN — learn the merge table itself (the step q_bpe_pair_counts
    computes one round of and q_bpe_encode consumes): R greedy rounds, each
    counting adjacent symbol pairs across the WORD VOCABULARY weighted by
    word frequency, picking the argmax pair (count DESC, then (x, y) — a
    deterministic tie-break, since ties are common on real corpora), and
    applying the merge to every vocabulary entry with the SINGLE-PASS
    replace contract documented on _bpe_sql_tokens (consecutive
    occurrences of the merged pair share a delimiter space, so the second
    stays unmerged that round — the learned table can deviate from
    canonical greedy BPE on run-heavy vocabularies, identically on both
    engines). Output is the learned
    table: (merge_rank, left_sym, right_sym, merged, pair_count).

    THE SCALE SHAPE: training runs on the DISTINCT-WORD vocabulary with
    frequencies, never on the token stream — the corpus is touched once
    (one explode + one groupBy), then every round costs O(|vocab|), which
    is sublinear in corpus size and shrinks as merges fuse symbols. Each
    round's argmax joins back in as a broadcast 1-row relation (NO driver
    collect — the loop is lineage-truncated like q_kmeans, but the merge
    VALUE never leaves the cluster). The pair explode derives its spine
    from each word's symbol count (class-19 rule). Empty corpus → empty
    merge table on both engines (each stage's cross join against an empty
    argmax relation vanishes identically)."""
    from kinesis_test_spark.iterate import truncate_lineage

    d = unique_docs(spark, sf_dir, cols=["doc_id", "text"])
    words = d.select(
        F.explode(
            F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w")
    )
    vocab = truncate_lineage(
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
            "freq",
        )
    )
    merges = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        syms = F.split(F.trim(F.col("s")), " ")
        k = F.greatest(F.size(syms) - 1, F.lit(0))
        pair_arr = F.zip_with(
            F.slice(syms, 1, k),
            F.slice(syms, 2, k),
            lambda a, b: F.struct(a.alias("x"), b.alias("y")),
        )
        pairs = (
            vocab.select(F.explode(pair_arr).alias("p"), "freq")
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        m = truncate_lineage(
            pairs.orderBy(F.col("cnt").desc(), "x", "y").limit(1)
        )
        merges.append(
            m.select(
                F.lit(r).cast("bigint").alias("merge_rank"),
                F.col("x").alias("left_sym"),
                F.col("y").alias("right_sym"),
                F.concat("x", "y").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        vocab = truncate_lineage(
            vocab.crossJoin(F.broadcast(m)).select(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), F.col("x"), F.lit(" "), F.col("y"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("x"), F.col("y"), F.lit(" ")),
                ).alias("s"),
                "freq",
            )
        )
    out = merges[0]
    for mm in merges[1:]:
        out = out.unionByName(mm)
    return out


# ---------------------------------------------------------------------------
# per-domain document cap (Common-Crawl-style source rebalancing)
# ---------------------------------------------------------------------------

DOMAIN_CAP = 15  # max docs kept per source


@query(
    "q_domain_cap",
    oracle=f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS pick_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= {DOMAIN_CAP}
ORDER BY source, pick_rank
""",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the source-rebalancing step that stops one
    crawler domain from dominating the mixture: keep at most CAP docs per
    source, chosen by salted-hash order (an unbiased, reproducible draw —
    same docs survive on any engine, run, or partitioning; crawl order
    would bias toward whatever the fetcher saw first). One shuffle on
    source; the per-partition window keeps a CAP-bounded rank, and skew in
    a giant domain is exactly what the cap removes downstream."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("pick_rank"))
        .orderBy("source", "pick_rank")
    )


# ---------------------------------------------------------------------------
# relative quality gate (drop the weak tail against a corpus statistic)
# ---------------------------------------------------------------------------


@query(
    "q_quality_gate",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         CAST(nd * nd AS DOUBLE) / nw AS score,
         (nd * nd * 1000000) // nw AS score_micros
  FROM (SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        FROM documents)),
thr AS (
  SELECT CAST(SUM(score_micros) AS HUGEINT) AS total_micros,
         CAST(COUNT(*) AS HUGEINT) AS cnt
  FROM scored)
SELECT s.doc_id, s.score
FROM scored s, thr
WHERE CAST(s.score_micros AS HUGEINT) * 10 * thr.cnt >= 8 * thr.total_micros
ORDER BY s.doc_id
""",
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: score every document (lexical
    diversity² / length — rewards long AND non-repetitive text), then keep
    docs above 0.8x the corpus MEAN score (drops the weak ~10% tail).
    Cross-engine exactness (r10 VERDICT #2): the EMITTED score is the raw
    IEEE quotient d²/len (both integers < 2^53 ⇒ correctly-rounded,
    bit-identical — never ROUNDed); the GATE runs entirely in integers —
    score_micros = (d²·10⁶) div len (positive BIGINTs, truncation=floor on
    both engines) and the mean-relative keep test cross-multiplied as
    10·micros·cnt ≥ 8·Σmicros in DECIMAL(38,0)/HUGEINT — so no decimal
    rounding path (and no halfway-tie bomb) exists on either side. The
    threshold is one exact aggregate broadcast back over the scan — a
    scale-free gate with NO global sort/percentile machinery (a
    percent-rank gate needs a total order, i.e. a single-partition window;
    a mean-relative gate costs one 1-row broadcast). Two scans of the
    lightweight scored relation, zero shuffles of document text."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(F.array_distinct(words)).cast("bigint").alias("nd"),
        F.size(words).cast("bigint").alias("nw"),
    )
    scored = base.select(
        "doc_id",
        ((F.col("nd") * F.col("nd")).cast("double") / F.col("nw")).alias("score"),
        F.expr("(nd * nd * 1000000) div nw").alias("score_micros"),
    )
    thr = scored.agg(
        F.sum(F.col("score_micros").cast("decimal(38,0)")).alias("total_micros"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"),
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(
            F.col("score_micros").cast("decimal(38,0)") * 10 * F.col("cnt")
            >= F.col("total_micros") * 8
        )
        .select("doc_id", "score")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# model-based quality classifier (CCNet/fastText-style linear filter)
# ---------------------------------------------------------------------------

# Hashed feature space: every token maps to one of QC_D buckets via the
# portable md5 hex16 projection. The "model" is a fixed integer weight
# vector in milli-units (a trained classifier would broadcast its real
# weights the same way; the weights here are a deterministic LCG spray in
# [-500, 500] so both engines can embed them as a literal array).
QC_D = 64
QC_W = [((j * 2654435761 + 123456789) % 2003) % 1001 - 500 for j in range(QC_D)]
QC_THRESHOLD = 0.0  # keep docs with mean token weight >= 0


@query(
    "q_quality_classifier",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(string_split(text, ' '),
              w -> ([{', '.join(str(w) for w in QC_W)}])
                   [(({sql_hex16("'qc|' || w")}) % {QC_D}) + 1]))
           AS BIGINT) AS score_milli
  FROM documents)
SELECT doc_id, n_tokens, score_milli,
       -- RAW IEEE quotient, no ROUND: both operands are exactly
       -- representable integers, so the correctly-rounded division is
       -- bit-identical across engines — ROUND(x, 6) would ADD a
       -- decimal-halfway tie bomb (found at sf0.1: -4039/16000 =
       -- -0.2524375 exactly; Spark HALF_UP and DuckDB's double rounding
       -- disagree on the tie)
       CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens) AS score,
       CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens)
         >= {QC_THRESHOLD} AS kept
FROM scored
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (the CCNet/fastText-style step of a
    corpus pipeline, complementing the heuristic q_quality_gate): hash
    every token into QC_D feature buckets, score the document as the sum
    of the bucket weights, and gate on the length-normalized score.

    The whole classifier is one scan-side projection: the weight vector
    is a literal array (a real model's weights broadcast the same way),
    the hashed lookup is element_at, and the per-document sum runs inside
    F.aggregate over the token array — NO explode, NO shuffle, NO join;
    the plan is scan -> project, embarrassingly parallel at any scale
    (plan-pinned). Score arithmetic stays integer (milli-weights summed
    as BIGINT) until ONE raw IEEE division — exact integer operands make
    the correctly-rounded quotient bit-identical across engines, and
    NO ROUND is applied (rounding an exact quotient only adds
    decimal-halfway ties where engine rounding modes diverge).
    NULL text scores NULL and carries a NULL kept flag on both engines
    (split/aggregate propagate NULL; n_tokens is gated to NULL rather
    than Spark's size()=-1 sentinel)."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    warr = F.array(*[F.lit(w) for w in QC_W])
    bucket1 = lambda w: (  # noqa: E731 — 1-based element_at index
        F.pmod(spark_hex16(F.concat(F.lit("qc|"), w)), F.lit(QC_D)) + 1
    ).cast("int")
    milli = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.element_at(warr, bucket1(w)).cast("bigint"),
    )
    n_tokens = F.when(F.col("text").isNotNull(), F.size(words)).cast("bigint")
    score = milli.cast("double") / (1000.0 * n_tokens)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        milli.alias("score_milli"),
        score.alias("score"),
        (score >= QC_THRESHOLD).alias("kept"),
    )


# ---------------------------------------------------------------------------
# per-document unigram entropy (gibberish / degenerate-text detector)
# ---------------------------------------------------------------------------


@query(
    "q_text_entropy",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
           WHERE doc_id IS NOT NULL),
cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id)
SELECT c.doc_id, t.n AS n_tokens,
       ROUND({sql_exact_sum("-(CAST(c.c AS DOUBLE) / t.n) * log2(CAST(c.c AS DOUBLE) / t.n)", 18, 12, guard=False)}, 6) AS entropy
FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY c.doc_id, t.n
ORDER BY c.doc_id
""",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy — low entropy flags degenerate or
    boilerplate text (a standard pre-training filter signal next to the
    Gopher repetition rules in q_text_repetition). Each -p·log2(p) term is
    computed identically on both engines, then quantized to LONG cents at
    the 1e-12 grain and summed as DECIMAL(18,0) so the per-doc reduction
    is order-independent (double addition isn't associative; at 100 TB
    partial-agg order is scheduler-dependent) and the quantization has
    no repr-vs-binary cast gap (a (44,703) word count produces a term the
    old direct cast split across engines — EDGES class 24). Shuffles on (doc_id, word) then doc_id — both
    key-hashed, no global ordering anywhere except the presentation sort."""
    # identity-less docs quarantined (a doc-grain report keyed by doc_id
    # cannot key rows without one — edge_dupkeys identity-NULL rows; the
    # oracle's cnt JOIN tot on doc_id would drop them one-sidedly)
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    cnt = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    win = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.withColumn("n", F.sum("c").over(win).cast("bigint"))
        .withColumn("term", cents_term(-p * F.log2(p), 18, 12, guard=False))
        .groupBy("doc_id", F.col("n").alias("n_tokens"))
        .agg(
            F.round(
                F.sum("term").cast("double") / F.lit(1.0e12), 6
            ).alias("entropy")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# pipeline audit: stage-survival report (observability for the clean funnel)
# ---------------------------------------------------------------------------

AUDIT_MIN_WORDS = 20
# Quality-gate threshold, in micro-units: the gate compares in exact
# integer cross-multiplied form d²·10⁶ ≥ THRESHOLD_MICROS·len (r10
# VERDICT #2 — no float/decimal rounding path, no halfway-tie bomb).
AUDIT_MIN_SCORE_MICROS = 8_000_000  # i.e. diversity²/len >= 8.0
AUDIT_SEG_WORDS = 10


@query(
    "q_pipeline_audit",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
  FROM documents),
segs AS (
  SELECT doc_id,
         md5(array_to_string(
           w[(i*{AUDIT_SEG_WORDS}+1):(i*{AUDIT_SEG_WORDS}+{AUDIT_SEG_WORDS})],
           ' ')) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(
         0, CAST(ceil(len(w) / {AUDIT_SEG_WORDS}.0) AS BIGINT) - 1)) AS u(i)),
has_earlier_twin AS (
  SELECT DISTINCT a.doc_id
  FROM segs a JOIN segs b ON a.h = b.h AND b.doc_id < a.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN n_words >= {AUDIT_MIN_WORDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_minlen,
       CAST(SUM(CASE WHEN n_words >= {AUDIT_MIN_WORDS}
                      AND t.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nodup,
       CAST(SUM(CASE WHEN n_words >= {AUDIT_MIN_WORDS}
                      AND t.doc_id IS NULL
                      AND nd * nd * 1000000 >= {AUDIT_MIN_SCORE_MICROS} * n_words
                 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gated
FROM d LEFT JOIN has_earlier_twin t ON d.doc_id = t.doc_id
""",
)
def q_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-survival audit of the cleaning funnel — the one-row report an
    operator reads before shipping a corpus snapshot: raw count, after
    minimum length, after near-dup removal (a doc is dropped when any of
    its 10-word segments already appears in a LOWER-numbered doc — the
    keep-first rule over the same segment index q_dedup_paragraph builds;
    the fixture has zero byte-exact duplicates, so a content-hash stage
    would be inert), after the diversity quality gate. All stage counts
    come from one pass with nested CASE conditions plus the segment-index
    anti-lookup — no per-stage re-scans, which is the difference between a
    cheap per-run report and 4x the pipeline cost at 100 TB."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).cast("bigint").alias("nd"),
    )
    seg_hash = F.expr(
        f"transform(sequence(0, int(ceil(size(w) / {AUDIT_SEG_WORDS}.0)) - 1),"
        f" i -> md5(array_join(slice(w, i*{AUDIT_SEG_WORDS}+1, {AUDIT_SEG_WORDS}),"
        f" ' ')))"
    )
    segs = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(seg_hash).alias("h"))
    )
    twins = (
        segs.alias("a")
        .join(
            segs.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("b.doc_id") < F.col("a.doc_id")),
        )
        .select(F.col("a.doc_id").alias("twin_doc"))
        .distinct()
    )
    joined = base.join(twins, base.doc_id == twins.twin_doc, "left")
    minlen = F.col("n_words") >= AUDIT_MIN_WORDS
    nodup = minlen & F.col("twin_doc").isNull()
    # exact integer cross-multiplication — no rounding path (r10 VERDICT #2)
    gated = nodup & (
        F.col("nd") * F.col("nd") * F.lit(1000000)
        >= F.lit(AUDIT_MIN_SCORE_MICROS) * F.col("n_words").cast("bigint")
    )

    def stage(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(alias)

    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        stage(minlen, "n_minlen"),
        stage(nodup, "n_nodup"),
        stage(gated, "n_gated"),
    )


# ---------------------------------------------------------------------------
# temperature-weighted mixture sampling (multilingual-corpus balancing)
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7  # mT5/XLM-R style temperature exponent


@query(
    "q_mixture_temperature",
    oracle=f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source),
powered AS (
  SELECT source, n_docs, n_chars,
         POWER(n_chars, {MIX_ALPHA}) AS w FROM counts),
total AS (SELECT SUM(w) AS tw FROM powered)
SELECT source, n_docs, n_chars,
       ROUND(w / tw, 6) AS sample_prob,
       ROUND(w / tw, 6) - ROUND(CAST(n_chars AS DOUBLE) /
         (SELECT SUM(n_chars) FROM counts), 6) AS uplift
FROM powered, total
ORDER BY source
""",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (the mT5/XLM-R recipe):
    per-source sampling probability ∝ size^α with α=0.7, so small sources
    are up-sampled relative to their natural share — the balancing step
    between raw corpus sizes and the training mixture. `uplift` reports
    how far each source moves vs proportional sampling (positive = small
    source boosted). Two dimension-sized aggregates and a broadcast total;
    POWER is evaluated identically on both engines and the probabilities
    round at 6 per the float rules."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    powered = counts.withColumn("w", F.pow("n_chars", F.lit(MIX_ALPHA)))
    totals = powered.agg(
        F.sum("w").alias("tw"), F.sum("n_chars").cast("bigint").alias("tc")
    )
    return (
        powered.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(F.col("w") / F.col("tw"), 6).alias("sample_prob"),
            (
                F.round(F.col("w") / F.col("tw"), 6)
                - F.round(F.col("n_chars").cast("double") / F.col("tc"), 6)
            ).alias("uplift"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# vocabulary coverage (OOV-rate report) and sequence-length histogram
# ---------------------------------------------------------------------------

COVERAGE_VOCAB = 50  # top-K words treated as the tokenizer vocabulary


@query(
    "q_vocab_coverage",
    oracle=f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n,
           row_number() OVER (ORDER BY COUNT(*) DESC, word) AS rn
    FROM w GROUP BY word)
  WHERE rn <= {COVERAGE_VOCAB})
SELECT CAST({COVERAGE_VOCAB} AS BIGINT) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       -- raw IEEE quotient of exact counts (no ROUND; round-10 finding)
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
FROM w LEFT JOIN vocab v ON w.word = v.word
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: with the top-K words as the vocab,
    what fraction of corpus tokens fall outside it — the OOV-rate readout
    that sizes a vocabulary BEFORE committing to a tokenizer
    (q_text_tokenize_ids then encodes with the chosen one). The vocab is
    a K-bounded top-k (heap, broadcast into the membership probe); the
    corpus side is one explode + one broadcast left join, no token-level
    shuffle. Deterministic vocab boundary via the (count, word)
    tie-break."""
    from pyspark.sql import Window

    w = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("n").desc(), "word")),
        )
        .filter(F.col("rn") <= COVERAGE_VOCAB)
        .select(F.col("word").alias("v_word"))
    )
    joined = w.join(F.broadcast(vocab), w.word == F.col("v_word"), "left")
    oov = F.sum(F.when(F.col("v_word").isNull(), 1).otherwise(0))
    return joined.agg(
        F.lit(COVERAGE_VOCAB).cast("bigint").alias("vocab_size"),
        F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
        oov.cast("bigint").alias("oov_tokens"),
        (oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


@query(
    "q_length_histogram",
    oracle="""
SELECT CAST(floor(log2(len(string_split(text, ' ')))) AS BIGINT) AS log2_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_words,
       CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_words
FROM documents
GROUP BY 1 ORDER BY log2_bin
""",
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram on log2 bins — the input every packing /
    batching planner needs (q_text_pack consumes the budget this
    distribution sizes): how many documents land in each power-of-two
    length band, with band min/max as the sanity rails. Integer-only
    aggregation over one scan; log2 of a positive integer count is exact
    enough that floor() is stable on both engines (word counts ≥ 1 —
    split never yields an empty list)."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    return (
        d.select(n_words.alias("nw"))
        .groupBy(F.floor(F.log2("nw")).cast("bigint").alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nw").cast("bigint").alias("total_words"),
            F.min("nw").cast("bigint").alias("min_words"),
            F.max("nw").cast("bigint").alias("max_words"),
        )
        .orderBy("log2_bin")
    )


# ---------------------------------------------------------------------------
# bigram language-model scoring (smoothed corpus LM, per-doc NLL)
# ---------------------------------------------------------------------------


@query(
    "q_text_perplexity",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                i -> ws[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                i -> ws[i + 1])) AS w2
  FROM w),
c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c FROM c12 GROUP BY w1),
vocab AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM c1)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND({sql_exact_sum("-ln((c12.c + 1.0) / (c1.c + vocab.v))", 18, 8, guard=False)} / COUNT(*), 6)
         AS avg_nll
FROM bg
JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
JOIN c1 ON c1.w1 = bg.w1
CROSS JOIN vocab
GROUP BY bg.doc_id
ORDER BY bg.doc_id
""",
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document negative log-likelihood under an add-1-smoothed corpus
    BIGRAM model — the stronger sibling of q_text_logprob's unigram score
    and the classic perplexity-filter signal (docs whose word ORDER is
    unlike the corpus score high even when their vocabulary looks normal).
    The model is two count relations derived from one bigram explode;
    scoring joins each doc's bigrams back against them — all hash
    shuffles on bounded keys. Each ln() term quantizes to
    LONG cents at the 1e-8 grain before the sum (the logprob rule: libm
    ulp differences between engines vanish below the grain, and the
    floor-LONG form has no repr-vs-binary cast gap — EDGES class 24),
    and the per-doc mean rounds at 6."""
    from pyspark.sql import Window  # noqa: F401  (parallel structure w/ siblings)

    # docs with <2 words produce no bigram: DuckDB's generate_series(1,0)
    # is empty, but Spark's sequence(1,0) counts DOWN — filter explicitly
    # (same guard as q_bpe_pair_counts).
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 0)),"
                " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    nll = -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                exact_sum(nll, 18, 8, guard=False) / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )
