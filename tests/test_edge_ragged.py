"""Standing pin for the RAGGED-VECTOR adversarial corpus (EDGES.md).

Schema-legal but wrong-shaped embeddings — a 3-component vector, an
EMPTY list, and an over-long (DIM+5) vector — are planted into
embeddings.embedding of a restaged sf0.001, and every key the ragged
probe ever flagged is re-run through the driver's own oracle gate.

The class exists because `list<float>` admits any length but the
fixture generator always emits DIM components, so dimensionality
assumptions hide:

  * mismatched lengths: Spark zip_with pads the shorter side with NULL
    (dot product -> NULL -> cosine -1.0 sentinel) while DuckDB
    list_cosine_similarity RAISES InvalidInput — oracle crash on
    schema-legal data
  * the EMPTY list is worse: DuckDB's list_cosine_similarity([], q)
    hits an INTERNAL error that INVALIDATES the whole database
    connection — one bad row poisons every subsequent oracle query on
    the gate's shared connection
  * the contract: a vector is valid iff present, EXACTLY DIM-long, and
    every component is finite-in-domain (similarity.vec_valid /
    _SQL_VEC_VALID gained the length conjunct) — ragged vectors
    quarantine to NULL identically on both engines, the same treatment
    as NULL/non-finite/huge components

The full-surface sweep lives in tools/battery.py --class ragged (which imports
``plant_ragged`` from here — one source of truth for the corpus); this
test pins the keys that ever diverged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"


def plant_ragged(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with three wrong-shaped embedding
    rows: too short (3), empty (0), too long (DIM+5). Components are
    small and finite so only the SHAPE is dirty."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    emb = pq.read_table(dest / "embeddings.parquet")
    eh = emb.slice(0, 1).to_pydict()
    dim = len(eh["embedding"][0])
    ex = pa.table(
        {
            "vec_id": [94000001, 94000002, 94000003],
            "embedding": [
                [0.5, -0.25, 0.125],
                [],
                [0.1 * ((-1) ** i) for i in range(dim + 5)],
            ],
            "label": [eh["label"][0]] * 3,
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")


@pytest.fixture(scope="module")
def ragged_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ragged_sf")
    plant_ragged(SF_SRC, d)
    return str(d)


# Every key the round-8 ragged probe flagged (12/263 at first sweep; one
# contract change — the length conjunct in vec_valid/_SQL_VEC_VALID —
# cleared all 12, because every embedding consumer routes through the
# shared validity predicate):
RAGGED_EDGE_KEYS = [
    # oracle crashed: list_cosine_similarity raises on mismatched lengths
    "q_ann_batch",
    "q_ann_recall",
    "q_dedup_embedding",
    "q_dedup_embedding_cells",
    "q_kmeans_step",
    "q_sim_lsh",
    "q_sim_search",
    "q_sim_search_ivf",
    "q_sim_search_ivf_multiprobe",
    # oracle crashed: list_reduce raises on an empty list
    "q_emb_normalize",
    # value drift: ragged rows contributed partial dims to per-dim means
    # (Spark posexplode emits 3 or 69 rows; DuckDB e[dim] NULLs past len)
    "q_emb_centroid",
    "q_emb_drift",
]


@pytest.mark.parametrize("name", RAGGED_EDGE_KEYS)
def test_ragged_corpus_parity(spark, ragged_sf_dir, name):
    problems = check_query(spark, ragged_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
