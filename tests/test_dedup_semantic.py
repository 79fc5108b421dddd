"""Hot-cell guard pins for q_dedup_semantic (r11 VERDICT #1).

Near-duplicate-heavy data concentrates into few cells — that is what the
operator detects — so the within-cell pair space must be bounded by
construction, not by hoping cells stay small. These pins prove the
sorted-neighborhood band (SEM_CELL_CAP) makes candidate generation LINEAR
in hot-cell size with an exact count formula, and that the banded verdict
equals the unbounded more-keepable-near-dup rule whenever the cap does not
bind (every cell ≤ CAP+1 members) — i.e. the cap is a pure scale guard at
fixture scale, a recall dial only on cells deeper than CAP ranks.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kinesis_test_spark.streaming.pipeline import local_rows
from kinesis_test_spark.operators.dedup import (
    SEM_CELL_CAP,
    SEM_DUP_THRESHOLD,
    _pair_cos_batched,
    _sem_candidates,
    _sem_ranked,
)
from kinesis_test_spark.operators.similarity import DIM


def _assigned_frame(spark, rows):
    """rows: list of (vec_id, cid, cent_sim, e) — nrm derived."""
    data = [
        (int(vid), int(cid), float(cs), [float(x) for x in e], float(np.sqrt(np.dot(e, e))))
        for vid, cid, cs, e in rows
    ]
    return local_rows(
        spark, data, "vec_id bigint, cid bigint, cent_sim double, e array<double>, nrm double"
    )


def _band_dups(ranked, keep):
    """Banded candidate pairs at or above the near-dup threshold, scored by
    the production pair-cosine kernel."""
    return _pair_cos_batched(_sem_candidates(ranked), keep).filter(
        F.col("cos") >= SEM_DUP_THRESHOLD
    )


def _unit(i: int) -> list[float]:
    """The i-th DIM-wide basis vector (the kernel reads DIM components)."""
    return [float(i == j) for j in range(DIM)]


def _band_count(m: int, cap: int) -> int:
    """Exact candidate count for one cell of m members under the band:
    member at rank r is compared against min(r-1, cap) predecessors."""
    full = max(m - cap - 1, 0)
    tri = min(m - 1, cap)
    return tri * (tri + 1) // 2 + full * cap


def test_hot_cell_candidates_linear_not_quadratic(spark):
    """A 50%-hot cell (4000 of 8000 vectors in one cell) generates exactly
    Σ min(r-1, CAP) candidates — Θ(m·CAP), nowhere near m²/2. This is the
    edge-count-linearity pin the minhash bucket_cap family carries."""
    hot_m, cold_cells, cold_m = 4000, 40, 100
    rows = [(i, 0, float(i % 97), [1.0, 0.0]) for i in range(hot_m)]
    vid = hot_m
    for c in range(1, cold_cells + 1):
        for _ in range(cold_m):
            rows.append((vid, c, float(vid % 89), [0.0, 1.0]))
            vid += 1
    ranked = _sem_ranked(_assigned_frame(spark, rows))
    got = _sem_candidates(ranked).count()
    expect = _band_count(hot_m, SEM_CELL_CAP) + cold_cells * _band_count(
        cold_m, SEM_CELL_CAP
    )
    assert got == expect
    # the point of the guard: linear in the hot cell, not quadratic
    assert got < (hot_m + cold_cells * cold_m) * (SEM_CELL_CAP + 1)
    assert _band_count(hot_m, SEM_CELL_CAP) * 4 < hot_m * (hot_m - 1) // 2


def test_banded_verdict_equals_bruteforce_when_cap_unbound(spark):
    """On cells no deeper than CAP+1 members the band covers every
    more-keepable predecessor, so the banded drop set must equal the
    unbounded exists-a-more-keepable-near-dup rule computed independently
    in numpy. Orthogonal base vectors + tiny-noise copies keep every pair
    cosine far from the threshold (≈1 for planted dups, ≈0 across bases),
    so float rounding cannot flip a verdict."""
    rng = np.random.default_rng(7)
    dim, n_base = DIM, 12
    centroid = np.ones(dim)
    rows, vecs = [], {}
    vid = 0
    for b in range(n_base):
        base = np.zeros(dim)
        base[b] = 1.0 + 0.1 * b
        for _ in range(1 + b % 5):  # 1..5 near-copies per base
            e = base + rng.normal(0, 1e-3, dim) * base[b]
            cs = round(
                float(np.dot(e, centroid) / (np.linalg.norm(e) * np.linalg.norm(centroid))),
                6,
            )
            rows.append((vid, b % 2, cs, e))  # two cells
            vecs[vid] = (b % 2, cs, e)
            vid += 1
    per_cell = {0: 0, 1: 0}
    for _, (c, _, _) in vecs.items():
        per_cell[c] += 1
    assert max(per_cell.values()) <= SEM_CELL_CAP + 1  # cap never binds

    # brute force: dropped iff exists more-keepable near-dup in the cell
    expect_dropped = set()
    for a, (ca, csa, ea) in vecs.items():
        for b, (cb, csb, eb) in vecs.items():
            if a == b or ca != cb:
                continue
            if not (csb < csa or (csb == csa and b < a)):
                continue
            cos = round(
                float(np.dot(ea, eb) / (np.linalg.norm(ea) * np.linalg.norm(eb))), 4
            )
            if cos >= SEM_DUP_THRESHOLD:
                expect_dropped.add(a)
                break

    ranked = _sem_ranked(_assigned_frame(spark, rows))
    got_dropped = {
        r.vec_id for r in _band_dups(ranked, ["vec_id"]).select("vec_id").distinct().collect()
    }
    assert got_dropped == expect_dropped
    assert len(expect_dropped) > 0  # the corpus actually plants dups


def test_band_can_miss_a_rank_distant_pair(spark):
    """The eval's recall column measures something real: a near-dup pair
    separated by more than CAP interleaved ranks IS missed by the band
    (and would be counted by the unbounded truth side). Two copies of the
    same vector get artificial cent_sim scores CAP+2 ranks apart with
    orthogonal fillers between them — the band must NOT pair them."""
    n_fill = SEM_CELL_CAP + 1
    rows = [(0, 0, 0.0, _unit(0))]  # dup A, most keepable
    for i in range(n_fill):  # orthogonal fillers occupy the band
        rows.append((i + 1, 0, float(i + 1), _unit(1)))
    rows.append((n_fill + 1, 0, float(n_fill + 1), _unit(0)))  # dup B
    ranked = _sem_ranked(_assigned_frame(spark, rows))
    banded = {
        (min(r.vec_id, r.vec_b), max(r.vec_id, r.vec_b))
        for r in _band_dups(ranked, ["vec_id", "vec_b"]).collect()
    }
    assert (0, n_fill + 1) not in banded  # the true pair is outside the band
    # sanity: with the fillers removed the band finds it
    close = [r for r in rows if r[3] == _unit(0)]
    found = _band_dups(_sem_ranked(_assigned_frame(spark, close)), ["vec_id"]).count()
    assert found == 1


def test_tied_null_id_vectors_quarantined_from_band(spark, tmp_path):
    """r12 ADVICE pin: two NULL-vec_id vectors that TIE on rounded
    cent_sim (scalar multiples of one base vector — identical direction,
    identical centroid cosine) but have DIFFERENT embeddings. Before the
    quarantine their relative rank was engine/run-arbitrary, so band
    membership of OTHER rows could diverge across a SEM_CELL_CAP
    boundary. The quarantine verdicts them kept out-of-band: parity must
    hold, both NULL-id rows surface as kept, and identified rows' verdicts
    are unchanged vs the clean fixture."""
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kinesis_test_spark.oracle import check_query
    from kinesis_test_spark import registry

    registry.load_all()
    src = Path("/root/testdata/sf0.001")
    dest = tmp_path / "nullid_sf"
    dest.mkdir()
    for f in src.glob("*.parquet"):
        shutil.copy(f, dest / f.name)
    emb = pq.read_table(dest / "embeddings.parquet")
    head = emb.to_pydict()
    base = [float(x) for x in head["embedding"][head["vec_id"].index(20)]]
    ex = pa.table(
        {
            "vec_id": [None, None],
            "embedding": [
                [2.0 * x for x in base],  # same direction -> same cent_sim
                [5.0 * x for x in base],  # ... but a DIFFERENT embedding
            ],
            "label": [head["label"][0]] * 2,
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")

    problems = check_query(spark, str(dest), "q_dedup_semantic")
    assert not problems, problems
    out = registry.QUERIES["q_dedup_semantic"](spark, str(dest))
    null_rows = out.filter("vec_id IS NULL").collect()
    assert len(null_rows) == 2 and all(r.is_kept for r in null_rows)
    # identified rows' verdicts are untouched by the quarantined pair
    clean = {
        r.vec_id: r.is_kept
        for r in registry.QUERIES["q_dedup_semantic"](spark, str(src)).collect()
    }
    dirty = {r.vec_id: r.is_kept for r in out.collect() if r.vec_id is not None}
    assert dirty == clean


def test_band_block_join_is_equi_keyed(spark):
    """The candidate join must carry the (cid, rank-block) EQUI keys — a
    cid-only join would still execute |cell|² comparisons inside a hot
    cell before filtering. Pin: no cartesian/nested-loop, and the block
    key appears in the join."""
    from kinesis_test_spark import plans

    rows = [(i, 0, float(i), [1.0, 0.0]) for i in range(10)]
    cand = _sem_candidates(_sem_ranked(_assigned_frame(spark, rows)))
    plan = plans.formatted(cand)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "probe_blk" in plan and "blk_a" in plan
