"""Standing pin for the DEGENERATE-VECTOR adversarial corpus (EDGES.md
class 21, opened round 12).

Every prior embedding corpus attacked the vector's SHAPE (ragged), its
component DOMAIN (non-finite, magnitude), or its IDENTITY (dupkeys) —
none planted vectors whose VALUES are degenerate while fully valid:

  * the exact-ZERO vector — its cosine with anything is the -1.0
    zero-norm sentinel on both engines (Spark: try_divide → NULL →
    COALESCE; DuckDB: list_cosine_similarity returns -1.0 natively).
    A zero vector must be KEEPABLE, rankable, and assignable without
    tripping ANSI division anywhere.
  * a vector of float32 MIN-SUBNORMALS (1.4e-45) — exercises the
    float→double cast of subnormal values and tiny-by-tiny quotients
    (double math never underflows from float32 inputs, so this is an
    agreement check on exact subnormal semantics, not an underflow one).
  * an all-NEGATIVE-ZERO vector — -0.0 passes every validity predicate,
    its norm is +0.0 (zero-norm path), and sign-of-zero products must
    not leak into rendered values (the negzero class covered events
    doubles; embeddings never had one).
  * a SIGN-FLIPPED copy of an existing vector — a GENUINE cosine of
    exactly -1.0, colliding with the invalid-vector sentinel value: both
    engines must rank the genuine -1.0 and the sentinel -1.0 as ties
    under the documented tie-break, never distinguish them (the
    round-11 q_sim_mrl review note, now corpus-enforced).
  * an EXACT DUPLICATE of the family query vector (vec_id 0) under a new
    id — cosine exactly 1.0 at the TOP of every ranking (top-of-heap
    tie-break), and a semantic-dedup pair at the maximum threshold.
  * a ×3 SCALED copy of another vector — cosine mathematically 1 but
    computed through sqrt(9·n²)·sqrt(n²); both engines evaluate the
    identical expression so the (possibly ≠1.0) value must agree bit-
    for-bit after the shared ROUND.
  * a LARGE-BUT-IN-DOMAIN vector (1e5 components, inside the |x| < 1e6
    embedding route domain) — must FLOW THROUGH every embedding
    consumer, not quarantine (the magnitude class only ever planted
    components that quarantine away).
  * an ABOVE-DOMAIN vector (1e11 components) — THE ROUND-12 FINDING.
    1e11 passed the old generic 1e12 validity bound but broke the
    centroid family: per-dim means of ~1.7e9 carry the engines'
    decimal→double conversion drift (one ULP ≈ 2.4e-7 at that
    magnitude) past the ROUND(...,9) oracle's half-step, and
    q_emb_drift's component PRODUCTS (1e22) overflowed its
    DECIMAL(28,16) cast outright (DuckDB ConversionException). The
    embedding domain is now route-derived — |x| < 1e6
    (similarity.VEC_COMPONENT_MAX) keeps per-dim means inside the
    drift-free regime (m ≲ 2.25e6) and products inside the (28,16)
    integer capacity — so this vector QUARANTINES symmetrically.

The full-surface sweep lives in tools/battery.py --class degenvec (imports
``plant_degenvec`` from here — one source of truth); this test pins the
embedding-consumer families against the corpus.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

F32_MIN_SUBNORMAL = 1.401298464324817e-45


def plant_degenvec(src: str, dest: Path) -> None:
    """Restage ``src`` with eight degenerate-valued embedding rows (all
    DIM-long and finite; the 1e11 row is deliberately above the 1e6
    route domain and must quarantine symmetrically)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    emb = pq.read_table(dest / "embeddings.parquet")
    head = emb.to_pydict()
    dim = len(head["embedding"][0])
    label = head["label"][0]
    qvec = [float(x) for x in head["embedding"][head["vec_id"].index(0)]]
    base = [float(x) for x in head["embedding"][head["vec_id"].index(20)]]
    ex = pa.table(
        {
            "vec_id": [95000001, 95000002, 95000003, 95000004, 95000005,
                       95000006, 95000007, 95000008],
            "embedding": [
                [0.0] * dim,                            # exact zero
                [F32_MIN_SUBNORMAL] * dim,              # min float32 subnormal
                [-0.0] * dim,                           # negative zero
                [-x for x in base],                     # sign-flip of vec 20
                list(qvec),                             # duplicate of query vec 0
                [3.0 * x for x in base],                # scaled copy of vec 20
                [1.0e5 * ((-1) ** i) for i in range(dim)],   # large, in-domain
                [1.0e11 * ((-1) ** i) for i in range(dim)],  # above-domain
            ],
            "label": [label] * 8,
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")


@pytest.fixture(scope="module")
def degenvec_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("degenvec_sf")
    plant_degenvec(SF_SRC, d)
    return str(d)


# The embedding-consumer families gated in-suite against the corpus (the
# full surface is the probe tool's job): brute-force / IVF / MRL / SQ8
# ranking, cell assignment + k-means, the semantic-dedup family (zero
# vector must stay kept; the planted exact duplicate of the query vector
# must pair), embedding blocking/cells, drift, normalize, PQ, batch ANN.
DEGENVEC_KEYS = [
    "q_sim_search",
    "q_sim_search_ivf",
    "q_sim_search_ivf_multiprobe",
    "q_sim_mrl",
    "q_emb_sq8",
    "q_sim_lsh",
    "q_kmeans_step",
    "q_kmeans",
    "q_dedup_semantic",
    "q_dedup_semantic_incremental",
    "q_dedup_semantic_eval",
    "q_dedup_embedding",
    "q_dedup_embedding_cells",
    "q_emb_normalize",
    "q_emb_centroid",
    "q_emb_drift",
    "q_emb_pq",
    "q_ann_batch",
    "q_ann_recall",
    "q_multimodal",
]


@pytest.mark.parametrize("name", DEGENVEC_KEYS)
def test_degenvec_parity(spark, degenvec_sf_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    if name not in registry.QUERIES:
        pytest.skip(f"{name} not registered in this build")
    problems = check_query(spark, degenvec_sf_dir, name)
    assert not problems, problems
