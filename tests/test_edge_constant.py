"""Standing pin for the ZERO-VARIANCE / ALL-TIES adversarial corpus
(EDGES.md).

Constant data is schema-legal and common in production (a stuck sensor,
a flat pricing tier, a template document blasted under many ids, a
re-ingested embedding batch) and it is the one dirt shape every
STATISTIC is singular on: per-group stddev/variance hit exactly 0 (the
z-score denominator), Pearson corr becomes 0/0 (NaN in Spark's double
arithmetic, NULL/err in DuckDB), and every similarity/ranking metric
ties exactly (cosine 1.0 for identical AND scalar-multiple vectors,
Jaccard 1.0 for identical texts) so any ordering without a full unique
tie-break key is free to disagree.

Planted (appended — existing rows untouched, so clean behavior stays
observable beside the dirt):

  * events: 20 rows for NEW user 88, all value = 7.5 (per-user
    stddev = 0), and 12 rows for NEW user 89, all value = -3.25 —
    distinct ts/event_ids so only the MEASURE is constant;
  * embeddings: 10 rows (vec_id 2000..2009) carrying the IDENTICAL
    vector, plus 2 scalar multiples of it (2x, 0.5x — cosine exactly
    1.0 against the group without byte-equality);
  * documents: 15 rows (doc_id 2000..2014) with IDENTICAL text under
    DISTINCT ids — maximum content duplication, the template-blast
    shape (NOT the dupkeys corpus: identities differ, content ties).

The full-surface sweep lives in tools/battery.py --class constant (which imports
``plant_constant`` from here — one source of truth for the corpus);
this test pins the keys the probe ever flagged plus property checks on
the dedup family's behavior under a 15-clone content cluster.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from edge_rig import append_events
from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

CONST_TEXT = (
    "the quarterly template report covers revenue growth retention and "
    "churn with identical boilerplate sections repeated across regions "
    "for every subsidiary in the group portfolio"
)


def plant_constant(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with the zero-variance shapes
    described in the module docstring appended to events, embeddings
    and documents."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    base_us = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC
    types = ["click", "view", "purchase", "signup", "error"]
    rows = {
        "event_id": [],
        "ts": [],
        "user_id": [],
        "event_type": [],
        "value": [],
        "props": [],
    }
    for i in range(20):  # user 88: constant 7.5
        rows["event_id"].append(2000 + i)
        rows["ts"].append(base_us + (4 * 24 + i) * 3600 * 10**6)
        rows["user_id"].append(88)
        rows["event_type"].append(types[i % 5])
        rows["value"].append(7.5)
        rows["props"].append('{"k": 1}')
    for i in range(12):  # user 89: constant -3.25
        rows["event_id"].append(2100 + i)
        rows["ts"].append(base_us + (9 * 24 + i * 7) * 3600 * 10**6)
        rows["user_id"].append(89)
        rows["event_type"].append(types[(i + 2) % 5])
        rows["value"].append(-3.25)
        rows["props"].append('{"k": 2}')
    for i in range(12):  # user 90: EXACT 30-min spacing, all click —
        # every consecutive pair lands exactly ON the 30-min session gap
        # (fixed AND dynamic click/view gap): the exact-touch boundary
        # where Spark's session_window merges (probed: [ts, ts+gap) chains
        # touching at ts+gap == next_ts are ONE session)
        rows["event_id"].append(2200 + i)
        rows["ts"].append(base_us + 14 * 24 * 3600 * 10**6 + i * 1800 * 10**6)
        rows["user_id"].append(90)
        rows["event_type"].append("click")
        rows["value"].append(1.0)
        rows["props"].append('{"k": 3}')
    for i in range(10):  # user 91: a NEW event_type whose value column
        # is ENTIRELY constant — the per-group zero-variance shape no
        # append to an existing type can create (existing rows keep the
        # group varied). Kills any per-type moment statistic that
        # divides by spread without a guard (Spark 4 ANSI F.corr RAISES
        # DIVIDE_BY_ZERO where DuckDB corr returns NULL).
        rows["event_id"].append(2300 + i)
        rows["ts"].append(base_us + (19 * 24) * 3600 * 10**6 + i * 777 * 10**6)
        rows["user_id"].append(91)
        rows["event_type"].append("heartbeat")
        rows["value"].append(9.9)
        rows["props"].append('{"k": 4}')
    # encoding-adaptive staging: ONE copy in tests/edge_rig.append_events
    append_events(dest, rows)

    emb = pq.read_table(dest / "embeddings.parquet")
    dim = len(emb["embedding"][0])
    v = [((i * 13 + 5) % 17 - 8) / 8.0 for i in range(dim)]
    vecs = [v] * 10 + [[2.0 * x for x in v], [0.5 * x for x in v]]
    const_emb = pa.table(
        {
            "vec_id": pa.array(list(range(2000, 2012)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(12)], type=pa.int32()),
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, const_emb]), dest / "embeddings.parquet")

    docs = pq.read_table(dest / "documents.parquet")
    n = 15
    const_docs = pa.table(
        {
            "doc_id": pa.array(list(range(2000, 2000 + n)), type=pa.int64()),
            "text": [CONST_TEXT] * n,
            "lang": ["en"] * n,
            "source": [f"src{i % 3}" for i in range(n)],
            "n_chars": pa.array([len(CONST_TEXT)] * n, type=pa.int64()),
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, const_docs]), dest / "documents.parquet")


# Keys the constant-corpus probe flagged (q_session_dynamic /
# s_session_dynamic on the first sweep; q_session_native / s_session
# carried the same split-at-exact-touch oracle latently until user 90's
# exact 30-min spacing joined the corpus) plus the keys the class
# stresses hardest: zero-stddev consumers, full-tie similarity ranking,
# and the dedup family under a 15-clone content cluster.
CONST_EDGE_KEYS: list[str] = [
    "q_session_dynamic",
    "s_session_dynamic",
    "q_session_native",
    "s_session",
    "q_sessionize",
    "q_outliers",
    "q_stats_profile",
    "q_ab_test",
    "q_agg_global",
    "q_sim_search",
    "q_ann_batch",
    "q_ann_recall",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_dedup_eval",
    "q_dedup_containment",
    "q_dedup_ngram_jaccard",
    "q_dedup_exact",
    "q_quality_gate",
    "q_emb_centroid",
    "q_agg_stats",
    "q_grouped_map",
]


@pytest.fixture(scope="module")
def const_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("const_sf")
    plant_constant(SF_SRC, d)
    return d


@pytest.fixture(scope="module")
def spark():
    from kinesis_test_spark.session import get_spark

    return get_spark()


@pytest.mark.parametrize("name", CONST_EDGE_KEYS)
def test_constant_corpus_parity(spark, const_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    problems = check_query(spark, str(const_dir), name)
    assert not problems, problems
