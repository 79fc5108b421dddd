"""Standing pin for the SUB-GRAIN-AT-HIGHER-SCALES adversarial corpus
(EDGES.md class 24, opened round 14).

Class 23 (round 13) proved the double→DECIMAL(p,s) quantization
engine-ambiguous and fixed the MONEY routes (scales 2-6) — but the
higher-scale routes kept their direct casts behind ROUND(...,6/9) output
tolerances, on the argument that no corpus value reached them.  Round-14
mining shows both remaining families have REACHABLE divergers:

  * (18,12) entropy terms: -p·log2(p) for p = c/n lands with its shortest
    repr exactly on a .{12}5 boundary while the scaled binary sits below —
    a document with 44 occurrences of one word among 703 tokens produces
    the term 0.2502272652335, which Spark casts to ...234 and DuckDB to
    ...233 (probed on the real engines).  (c,n) = (268,639) and (475,651)
    diverge the same way.
  * (28,16) centroid components: ~1/30k of uniform float32 components
    diverge (0.39339181780815125, 0.43448445200920105,
    -0.10375868529081345 probed), and 2^-17 = 7.62939453125e-6 is an
    EXACT scaled tie that Spark rounds HALF_UP and DuckDB half-EVEN.

Fix (functions/exact.py, r14): scale-8/12 terms quantize via the
floor-LONG cents form (terms are bounded by ln/log2 of corpus size, so
cents always fit BIGINT); the (28,16) centroid route uses split_sum16 —
FLOOR(c) sums as exact integers, the IEEE-exact fractional part [0,1)
quantizes to LONG sixteenths-cents — because |component| < 1e6 puts
c·1e16 past BIGINT.

The corpus plants the diverger embeddings (plus the exact tie) as extra
vectors, a diverger-term document engineered from the mined (c,n) pairs,
and scale-6 .{6}5-boundary doubles in events.value (the r13 diverger
class one scale up, exercising the window/table/flagship (18,6) routes
that round 13's campaign missed and round 14 converted).

Full-surface sweep: tools/battery.py --class subgrain.  In-suite pins gate the
entropy/logprob/perplexity, centroid, and (18,6)-route consumers.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

# (18,12) entropy divergers: term -(c/n)·log2(c/n) splits the engines on
# the OLD direct cast (mined + engine-verified r14)
ENTROPY_DIVERGERS = [(44, 703), (268, 639), (475, 651)]

# (28,16) divergers: real float32 values whose direct cast split the
# engines, + the exact scaled tie 2^-17 (HALF_UP vs half-EVEN)
VEC_DIVERGERS = [
    0.39339181780815125,
    0.43448445200920105,
    -0.10375868529081345,
    7.62939453125e-06,  # 2^-17: v·1e16 == 76293945312.5 exactly (tie)
]

# (18,6) boundary doubles for events.value — same shape as class 23's
# scale-2 divergers, one scale up; both mined near the 2^10 magnitude
# (dense region) and engine-verified: the OLD direct cast splits
# (Spark ...573/...317 vs DuckDB ...572/...316), the r14 floor form agrees
VALUE_6_DIVERGER_A = 1024.7775725
VALUE_6_DIVERGER_B = 1024.1463165
VALUE_6_TIE = 5e-7                      # ·1e6 = 0.5 exactly (tie case)


def _entropy_doc(c: int, n: int, word: str, filler_prefix: str) -> str:
    """A document whose unigram distribution contains a word with count c
    among n total tokens: c copies of `word` + (n-c) DISTINCT filler words
    (each filler then has p = 1/n — its own term is identical for every
    filler, keeping the doc small to reason about)."""
    toks = [word] * c + [f"{filler_prefix}{i}" for i in range(n - c)]
    return " ".join(toks)


def plant_subgrain(src: str, dest: Path) -> None:
    """Restage ``src`` with higher-scale sub-grain divergers planted in
    documents (entropy terms), embeddings (centroid components), and
    events.value ((18,6) routes)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    docs = pq.read_table(dest / "documents.parquet")
    texts = [
        _entropy_doc(c, n, f"boundaryword{j}", f"sgfill{j}x")
        for j, (c, n) in enumerate(ENTROPY_DIVERGERS)
    ]
    extra_docs = pa.table(
        {
            "doc_id": [97300001, 97300002, 97300003],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["subgrain"] * 3,
            "n_chars": [len(t) for t in texts],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra_docs]), dest / "documents.parquet")

    emb = pq.read_table(dest / "embeddings.parquet")
    head = emb.to_pydict()
    dim = len(head["embedding"][0])
    label = head["label"][0]
    vecs = [
        # one vector per diverger so each component survives any per-vector
        # reduction; the rest of the vector is benign
        [v if i == 0 else 0.25 for i in range(dim)]
        for v in VEC_DIVERGERS
    ]
    vecs.append([v for v in VEC_DIVERGERS] + [0.25] * (dim - len(VEC_DIVERGERS)))
    extra_emb = pa.table(
        {
            "vec_id": [97310001, 97310002, 97310003, 97310004, 97310005],
            "embedding": vecs,
            "label": [label] * 5,
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, extra_emb]), dest / "embeddings.parquet")

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 3).to_pydict()
    extra_ev = pa.table(
        {
            "event_id": [97320001, 97320002, 97320003],
            "ts": h["ts"],
            "user_id": h["user_id"],
            "event_type": ["purchase", "purchase", "click"],
            "value": [VALUE_6_DIVERGER_A, VALUE_6_TIE,
                      -VALUE_6_DIVERGER_B],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra_ev]), dest / "events.parquet")


@pytest.fixture(scope="module")
def subgrain_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("subgrain_sf")
    plant_subgrain(SF_SRC, d)
    return str(d)


# The scale-8/12/16 route consumers + the (18,6) sites round 14 converted
# (probe-then-pin: extend with whatever the full sweep flags).
SUBGRAIN_KEYS = [
    "q_text_entropy",       # (18,12) cents-12 terms
    "q_text_logprob",       # (18,8) cents-8 terms
    "q_text_perplexity",    # (18,8) cents-8 terms
    "q_kmeans_step",        # (28,16) split_sum16 centroid
    "q_emb_centroid",
    "q_emb_drift",          # centroid + centroid-product split sums
    "q_dedup_semantic",     # centroid-route consumer (keeper build)
    "q_sim_search_ivfpq",   # ADC (28,6) pre-rounded route
    "q_window_frame",       # (18,6) running sum (converted r14)
    "q_window_range_frame",
    "q_window_cumsum_twophase",
    "q_flagship",
    "q_feature_snapshot",
    "q_rollup_incremental",
    "q_table_snapshot",
    "q_time_weighted_avg",  # (28,6) guarded product route
]


@pytest.mark.parametrize("name", SUBGRAIN_KEYS)
def test_subgrain_parity(spark, subgrain_sf_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    if name not in registry.QUERIES:
        pytest.skip(f"{name} not registered in this build")
    problems = check_query(spark, subgrain_sf_dir, name)
    assert not problems, problems
