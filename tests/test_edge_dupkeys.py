"""Standing pin for the DUPLICATE-KEY adversarial corpus (EDGES.md).

Byte-identical duplicate rows — the at-least-once delivery shape: a
producer retry emits the SAME record twice (reference analog:
consumer.py:292-303 deduplicates by sequence number because the Kinesis
source redelivers) — are planted into events (duplicate event_id),
documents (duplicate doc_id) and embeddings (duplicate vec_id) of a
restaged sf0.001, and every key the dupkeys probe ever flagged is
re-run through the driver's own oracle gate.

The class exists because the fixture generator emits unique ids, so
id-uniqueness assumptions hide on both sides:

  * engine-side arbitrary picks (dropDuplicates, first()) become
    VISIBLE only when the fixture itself carries duplicates — with
    byte-identical payloads the pick is well-defined, so any oracle
    that forgot a DISTINCT over-counts
  * aggregations legitimately count a redelivered record twice on BOTH
    engines — that agreement is the point: duplicates-as-data are
    symmetric; only id-uniqueness shortcuts diverge

Mutated retries (same id, DIFFERENT payload) are deliberately OUT of
scope: record identity is the id, and which variant survives a dedup is
arrival-order-defined — not expressible in the batch oracle. The
corpus keeps payloads byte-identical so every surviving choice is
canonical.

The full-surface sweep lives in tools/battery.py --class dupkeys (which imports
``plant_dupkeys`` from here — one source of truth for the corpus); this
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


def plant_dupkeys(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with byte-identical duplicate rows:
    the first two events rows, the first documents row, and the first
    embeddings row are each appended again, exactly as read. Two
    DIFFERENT documents with NULL doc_id are planted too — identity-less
    rows are the NULL corner of the identity contract (a doc-grain
    dedup keyed on doc_id cannot distinguish them)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    for table, n_dup in [("events", 2), ("documents", 1), ("embeddings", 1)]:
        t = pq.read_table(dest / f"{table}.parquet")
        pq.write_table(
            pa.concat_tables([t, t.slice(0, n_dup)]), dest / f"{table}.parquet"
        )

    docs = pq.read_table(dest / "documents.parquet")
    null_id = pa.table(
        {
            "doc_id": pa.array([None, None], type=pa.int64()),
            "text": [
                "an identity less document about alpha beta gamma delta",
                "a second identity less document about epsilon zeta eta",
            ],
            "lang": ["en", "en"],
            "source": ["edge-dup", "edge-dup"],
            "n_chars": [54, 54],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, null_id]), dest / "documents.parquet")

    # two DIFFERENT events with NULL event_id: identity-less records
    # through the identity-dedup gates (s_dedup / s_reference_pipeline)
    ev = pq.read_table(dest / "events.parquet")
    eh = ev.slice(0, 2).to_pydict()
    null_ev = pa.table(
        {
            "event_id": pa.array([None, None], type=pa.int64()),
            "ts": eh["ts"],
            "user_id": eh["user_id"],
            "event_type": ["click", "purchase"],
            "value": [7.25, 8.5],
            "props": eh["props"],
        },
        schema=ev.schema,
    )
    # FULL-TIE pair: same user, same ts, BOTH event_id NULL, different
    # payload — ties exhaust (ts, event_id) so only the COMPLETE struct
    # tie-break (event_type in q_agg_argmax, value in s_upsert /
    # q_resample_ffill) decides deterministically; an oracle ordering by
    # fewer terms than the engine's struct is DuckDB-arbitrary here
    tied_ev = pa.table(
        {
            "event_id": pa.array([None, None], type=pa.int64()),
            "ts": pa.array(
                [ev["ts"][0].as_py()] * 2, type=ev.schema.field("ts").type
            ),
            "user_id": pa.array([77, 77], type=pa.int64()),
            "event_type": ["view", "click"],
            "value": [5.0, 6.0],
            "props": ['{"k": 9}', '{"k": 10}'],
        },
        schema=ev.schema,
    )
    pq.write_table(
        pa.concat_tables([ev, null_ev, tied_ev]), dest / "events.parquet"
    )

    # FULL-TIE docs: both doc_id NULL, byte-identical >=20-word text,
    # different lang — q_pipeline_llm's per-text dedup must break the
    # (NULL doc_id) tie on lang (the engine's min(struct) second field)
    docs2 = pq.read_table(dest / "documents.parquet")
    tie_text = (
        "the shared template body repeats across both language variants "
        "with exactly the same twenty two ordinary words to pass the "
        "minimum length quality filter cleanly"
    )
    tied_docs = pa.table(
        {
            "doc_id": pa.array([None, None], type=pa.int64()),
            "text": [tie_text, tie_text],
            "lang": ["en", "es"],
            "source": ["edge-tie", "edge-tie"],
            "n_chars": pa.array([len(tie_text)] * 2, type=pa.int64()),
        },
        schema=docs2.schema,
    )
    pq.write_table(
        pa.concat_tables([docs2, tied_docs]), dest / "documents.parquet"
    )


@pytest.fixture(scope="module")
def dup_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dup_sf")
    plant_dupkeys(SF_SRC, d)
    return str(d)


# Every key the round-8 dupkeys probe flagged (15/263 at first sweep),
# grouped by the id-uniqueness shortcut each exposed:
DUP_EDGE_KEYS = [
    # streaming dedup oracles assumed fixture-level id uniqueness —
    # now SELECT DISTINCT (the engine's dropDuplicates collapses a
    # redelivered fixture row, so the oracle must too)
    "s_dedup",
    "s_dedup_watermarked",
    "s_reference_pipeline",
    # shingle multiset doubled: Spark's array_distinct is per-ROW, so a
    # redelivered doc doubled (doc_id, s) multiplicity (jaccard 1.81!)
    # while the oracle's DISTINCT was per-set — the shared shingle
    # relation now reads sources.unique_docs (one row per doc identity)
    "q_dedup_ngram_jaccard",
    "q_dedup_verify",
    "q_dedup_containment",
    "q_text_contamination",
    # doc rosters listed the redelivered doc twice (cluster labeling,
    # keep/drop actions, quality scoring) — unique_docs + oracle DISTINCT
    "q_dedup_clusters",
    "q_dedup_keeplist",
    "q_dedup_keep_best",
    # per-doc formula pipelines: Spark emitted one output row per INPUT
    # row while the oracle GROUPed BY doc_id over both copies (doubled
    # sums / interleaved token streams) — unique_docs on the Spark side,
    # DISTINCT source in the oracle
    "q_mm_png_roundtrip",
    "q_mm_wav_features",
    "q_mm_framepack",
    "q_text_tokenize_ids",
    # rank/bit-sum keyed per (event_id, dx, dy): the duplicate doubled
    # the oracle's per-group bit SUM — DISTINCT on both sides
    "q_zorder_key",
    # --- identity-NULL sub-class (27/263 when the NULL-id rows were
    # planted; no corpus had ever nulled the PRIMARY id columns) ---
    # window tie-breaks on a nullable event_id: Spark asc sorts NULLS
    # FIRST, DuckDB defaults NULLS LAST — oracles now state NULLS FIRST
    "q_window_lag",
    "q_window_frame",
    "q_window_rolling_median",
    "q_event_transitions",
    "q_scd2_intervals",
    "q_time_weighted_avg",
    "q_join_asof_forward",
    "q_sessionize",
    # identity-grain keyed outputs quarantine identity-less rows
    # (cogroup purchases, entropy/pack docs) or gate the wire on the id
    # (nested parse/flatten, fn_json's to_json-omits-null reencode)
    "q_cogroup_clickcount",
    "q_text_entropy",
    "q_text_pack",
    "q_nested_parse",
    "q_nested_flatten",
    "q_fn_json",
    # staging rigs must CARRY NULL ids: range splits (first half takes
    # NULLs), compaction slices (coalesce to slice 0), salt keys
    # (coalesce to salt 0), avro wire (id is a nullable union)
    "s_checkpoint",
    "s_matview",
    "q_table_compact",
    "q_join_skew_salted",
    "q_source_avro_py",
    "q_source_avro_resilient",
    "s_avro_ingest",
    # full-tie pins (round-8 session-7 review): the corpus plants rows
    # tied on EVERY leading tie-break term — same (user, ts) with both
    # event_id NULL, identical-text docs with both doc_id NULL — so the
    # argmax-family oracles' COMPLETE struct orderings (event_type /
    # value / lang) are what keeps these deterministic, not luck
    "q_agg_argmax",
    "s_upsert",
    "q_resample_ffill",
    "q_pipeline_llm",
]


@pytest.mark.parametrize("name", DUP_EDGE_KEYS)
def test_dupkeys_corpus_parity(spark, dup_sf_dir, name):
    problems = check_query(spark, dup_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
