"""Mechanics of the dedup family's session-level shared materialization
(operators/dedup.py `_session_cached`): the cached relation must be
value-identical to an uncached rebuild, distinct datasets must never share
an entry, and the LRU bound must evict (and unpersist) oldest-first.

A bug here corrupts every consumer silently — jaccard / clusters /
keeplist / graph_degree / contamination all read these relations.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.operators import dedup as D

SF_SRC = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_cached_equals_uncached(spark, sf_dir):
    cached = D._kept_shingles(spark, sf_dir)
    again = D._kept_shingles(spark, sf_dir)
    assert cached is again, "second call must return the same cached frame"
    from pyspark.sql import functions as F

    fresh_sh = D._build_shingles(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
    fresh = D._apply_df_cap(fresh_sh, D.NGRAM_DF_CAP)
    assert _rows(cached, ["doc_id", "s"]) == _rows(fresh, ["doc_id", "s"])


def test_distinct_datasets_get_distinct_entries(spark, sf_dir, tmp_path):
    # Stage a copy with one extra document: if cache keys collided on
    # anything weaker than the sf_dir path, the second lookup would serve
    # the first dataset's shingles.
    staged = tmp_path / "sf_alt"
    staged.mkdir()
    for f in Path(SF_SRC).glob("*.parquet"):
        shutil.copy(f, staged / f.name)
    docs = pq.read_table(staged / "documents.parquet")
    extra = pa.table(
        {
            "doc_id": [91000001],
            "text": ["cache isolation probe document with enough words"],
            "lang": ["en"],
            "source": ["cachetest"],
            "n_chars": [48],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), staged / "documents.parquet")

    base = D._spark_shingles(spark, sf_dir)
    alt = D._spark_shingles(spark, str(staged))
    assert alt is not base
    base_docs = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    alt_docs = {r["doc_id"] for r in alt.select("doc_id").distinct().collect()}
    assert 91000001 in alt_docs and 91000001 not in base_docs


def test_lru_bound_evicts_and_unpersists(spark):
    import pyspark

    D._DF_CACHE.clear()
    frames = {}
    for i in range(D._DF_CACHE_MAX + 2):
        frames[i] = D._session_cached(
            spark, ("lru-probe", i), lambda i=i: spark.range(i, i + 3)
        )
    assert len(D._DF_CACHE) == D._DF_CACHE_MAX
    # oldest two evicted and unpersisted; newest still cached + persisted
    assert frames[0].storageLevel == pyspark.StorageLevel.NONE
    assert frames[1].storageLevel == pyspark.StorageLevel.NONE
    newest_key = next(reversed(D._DF_CACHE))
    assert newest_key[1:] == ("lru-probe", D._DF_CACHE_MAX + 1)
    assert D._DF_CACHE[newest_key].storageLevel.useMemory
    # evicted entry still computes correctly (rebuild path)
    rebuilt = D._session_cached(spark, ("lru-probe", 0), lambda: spark.range(0, 3))
    assert [r.id for r in rebuilt.orderBy("id").collect()] == [0, 1, 2]
    D._DF_CACHE.clear()
