"""Standing pin for the SINGLETON adversarial corpus (EDGES.md class 22,
opened round 13).

Every table restaged to exactly ONE row (its first row, schema
preserved). This is the n=1 frontier BETWEEN two solved classes: the
EMPTY corpus (r8 class — zero rows) and the CONSTANT corpus (r8 class —
many identical rows). n=1 is its own regime:

  * sample statistics divide by n-1: stddev_samp/var_samp/corr/covar_samp
    of a single row are NULL on both engines — but any reimplementation
    (pandas .std() inside a grouped map, a hand-rolled two-pass formula)
    yields NaN or 0.0 instead;
  * window functions over a one-row partition: lag/lead are NULL,
    ntile(k) puts the row in tile 1, percentile interpolation collapses
    to the element — divergences hide wherever an implementation special-
    cases the first/last row;
  * every pair/join relation (dedup pairs, graph edges, retention weeks,
    funnel steps) is EMPTY off a one-row base — fixed-shape reports must
    keep their shape (the empty-class rules), while per-row reports must
    emit exactly one row;
  * referential integrity breaks by construction (the single orders row
    has no matching lineitem rows, etc.) — join operators must degrade
    symmetrically, not crash.

The single-row tables also make BROADCAST thresholds and zero-task
stages common — scheduler edge paths the multi-row corpora never hit.

Full-surface sweep: tools/battery.py --class singleton (imports plant_singleton
from here). In-suite pins below gate the families the first sweep
flagged plus the canonical n=1 statistics consumers.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"


def plant_singleton(src: str, dest: Path) -> None:
    """Restage ``src`` with every table truncated to its FIRST row."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.slice(0, 1), dest / f.name)


@pytest.fixture(scope="module")
def singleton_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("singleton_sf")
    plant_singleton(SF_SRC, d)
    return str(d)


# The n=1 statistics consumers plus one representative per family whose
# base relation degenerates to a single row (probe-then-pin: extend with
# whatever the first full sweep flags).
SINGLETON_KEYS = [
    "q_agg_stats",          # stddev/corr of one row -> NULL both sides
    "q_stats_profile",
    "q_outliers",
    "q_grouped_map",        # pandas z-score path with n=1
    "q_bootstrap_ci",
    "q_window_ntile",
    "q_window_rolling_median",
    "q_window_lag",
    "q_agg_approx_quantile",
    "q_ab_test",
    "q_retention",
    "q_funnel",
    "q_dedup_minhash",      # single doc: no pairs
    "q_dedup_semantic",     # single vector: kept, no band pairs
    "q_dedup_substring",
    "q_dedup_phash",
    "q_sim_search",         # query vec may be the only vec: empty hits
    "q_graph_degree",
    "q_tpch_q1",
    "q_tpch_q18",
    "q_text_entropy",
    "q_text_repetition",
    "q_quality_gate",       # mean-relative gate over one doc
    "q_skew_report",
    "s_heavy_hitters",
    # THE first-sweep finding (fixed): with one row, target = n//2 = 0 and
    # the engine's WHILE body never runs (k=0/cnt=0) — the oracle now
    # gates the zero-target regime explicitly
    "q_sql_script",
]


@pytest.mark.parametrize("name", SINGLETON_KEYS)
def test_singleton_parity(spark, singleton_sf_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    if name not in registry.QUERIES:
        pytest.skip(f"{name} not registered in this build")
    problems = check_query(spark, singleton_sf_dir, name)
    assert not problems, problems
