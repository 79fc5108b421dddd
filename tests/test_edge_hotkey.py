"""EDGE CLASS 18 — VOLUMETRIC HOT-KEY SKEW (probe-then-pin, round 10).

Every earlier corpus plants dirty VALUES; this one plants a dirty
DISTRIBUTION: one user holds ~50 % of all events and one document source
holds ~50 % of all docs — the power-law shape every production stream and
web corpus actually has. The class gates two things:

  * PARITY under skew — a skewed key must not change any answer relative
    to the oracle (both engines see the same rows; a divergence here
    would mean some operator's result depends on partitioning, e.g. an
    under-specified tie-break surfacing only when one partition holds
    half the data).
  * The SKEW-FACING OPERATORS' own contracts — q_skew_report must
    MEASURE the planted skew, q_domain_cap must CAP the hot domain at
    CAP rows, the MinHash/window-hash dedup dials (NGRAM_DF_CAP,
    bucket_cap, star-linking) must keep pair/edge growth linear.

Scale notes recorded with the class (EDGES.md): at 100 TB the hot user
makes one shuffle partition ~500x its neighbors. Operators that groupBy
or window on user_id ride AQE's skew-join/partition splitting
(spark.sql.adaptive.enabled is on in session.py) EXCEPT where the engine
carries an explicit dial: q_sample_strat salts by event_id hash
(scale.py), q_domain_cap draws a salted-hash rank so the hot domain
exits at CAP, dedup families bound pair spaces by construction. The
parity sweep can't measure wall-clock skew, but it proves the skew
dials don't change ANSWERS.
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

HOT_USER = 14          # already the fixture's top user (88/1000 rows)
HOT_SOURCE = "src0"    # one of 20 uniform 25-doc sources
N_HOT_EVENTS = 1000    # doubles the table; hot user ends at ~52 %
N_HOT_DOCS = 500       # doubles the table; hot source ends at ~52 %

# fixture time span (2024-01-01 .. 2024-01-30); hot rows spread across it
_T0_US = 1704067200000000          # 2024-01-01 00:00:00 UTC
_SPAN_US = 29 * 24 * 3600 * 1000000

_TYPES = ["click", "view", "purchase", "error", "signup"]
_LANGS = ["en", "de", "fr", "es", "zh"]


def plant_hotkey(src: str, dest: Path) -> None:
    """Restage ``src`` with the volumetric skew planted: N_HOT_EVENTS
    extra events all on HOT_USER (distinct ids, spread over the fixture's
    month, all five types, finite values) and N_HOT_DOCS extra documents
    all on HOT_SOURCE (distinct ids, varied short texts with a shared
    boilerplate word so the dedup families see the hot domain too)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    n = N_HOT_EVENTS
    append_events(
        dest,
        {
            "event_id": [93000000 + i for i in range(n)],
            # deterministic spread, deliberately NON-uniform in time too
            # (bursts): quadratic spacing front-loads the month
            "ts": [_T0_US + (i * i * 7919) % _SPAN_US for i in range(n)],
            "user_id": [HOT_USER] * n,
            "event_type": [_TYPES[i % len(_TYPES)] for i in range(n)],
            "value": [round(0.25 + (i % 400) * 0.5, 2) for i in range(n)],
            "props": ['{"k": %d}' % (i % 97) for i in range(n)],
        },
    )

    docs = pq.read_table(dest / "documents.parquet")
    m = N_HOT_DOCS
    texts = [
        " ".join(
            ["hotdomain", "boilerplate", f"w{i % 11}", f"w{(i * 3) % 13}"]
            + [f"hotword{i}_{j}" for j in range(8)]
        )
        for i in range(m)
    ]
    extra = pa.table(
        {
            "doc_id": [93100000 + i for i in range(m)],
            "text": texts,
            "lang": [_LANGS[i % len(_LANGS)] for i in range(m)],
            "source": [HOT_SOURCE] * m,
            "n_chars": [len(t) for t in texts],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), dest / "documents.parquet")


@pytest.fixture(scope="module")
def hotkey_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hotkey_sf")
    plant_hotkey(SF_SRC, d)
    return str(d)


# The skew-sensitive consumer families, kept exercised in-suite (the full
# 267-key sweep runs via tools/battery.py --class hotkey): per-user groupBy /
# window / session chains, per-source doc pipelines, the dedup families
# whose pair spaces the hot domain stresses, and the skew-facing
# operators themselves.
HOTKEY_EDGE_KEYS = [
    "q_agg_group",
    "q_agg_argmax",
    "q_agg_mode",
    "q_window_lag",
    "q_window_frame",
    "q_topk_per_group",
    "q_sessionize",
    "q_session_native",
    "q_session_dynamic",
    "q_event_transitions",
    "q_gap_histogram",
    "q_rfm",
    "q_retention",
    "q_wow_change",
    "q_skew_report",
    "q_sample_stratified",
    "q_domain_cap",
    "q_mixture_temperature",
    "q_dedup_minhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_substring",
    "q_dedup_substring_clusters",
    "q_quality_classifier",
    "q_bpe_encode",
    "q_join_interval",
]


@pytest.mark.parametrize("name", HOTKEY_EDGE_KEYS)
def test_hotkey_corpus_parity(spark, hotkey_sf_dir, name):
    assert check_query(spark, hotkey_sf_dir, name) == []


def test_skew_report_measures_the_planted_skew(spark, hotkey_sf_dir):
    """q_skew_report's whole job is this corpus: the hot user holds ~50 %
    of rows, so max_key_rows must be the hot user's exact count and
    skew_factor ≈ 0.5 × n_keys. Expected counts derive from the corpus
    itself (a fixture regen must not break the pin)."""
    import pyarrow.parquet as pq

    from kinesis_test_spark import registry

    ev = pq.read_table(Path(hotkey_sf_dir) / "events.parquet").to_pydict()
    hot_rows = sum(1 for u in ev["user_id"] if u == HOT_USER)
    assert hot_rows >= N_HOT_EVENTS  # the plant landed

    registry.load_all()
    row = registry.QUERIES["q_skew_report"](spark, hotkey_sf_dir).collect()[0]
    assert row["max_key_rows"] == hot_rows
    assert row["n_rows"] == len(ev["user_id"])
    assert row["skew_factor"] > (hot_rows / row["n_rows"]) * row["n_keys"] * 0.99


def test_domain_cap_caps_the_hot_source(spark, hotkey_sf_dir):
    """q_domain_cap is the skew REMOVER: the hot source (525 docs) must
    exit the pipeline at exactly CAP docs, same as every 25-doc cold
    source (all fixture sources exceed the cap) — the 21x volumetric
    skew is gone at the operator's output."""
    from kinesis_test_spark import registry
    from kinesis_test_spark.operators.text import DOMAIN_CAP

    registry.load_all()
    out = registry.QUERIES["q_domain_cap"](spark, hotkey_sf_dir).collect()
    by_src: dict[str, int] = {}
    for r in out:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert by_src[HOT_SOURCE] == DOMAIN_CAP
    assert all(n <= DOMAIN_CAP for n in by_src.values())
