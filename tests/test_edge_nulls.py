"""Standing pin for the NULL-field adversarial corpus (EDGES.md, graduated
round 8).

Schema-legal NULLs (events.user_id / event_type / value / props,
documents.text, embeddings.embedding) are planted into a restaged sf0.001
and every key the NULL probe ever flagged is re-run through the driver's
own oracle gate.  Covers the four latent classes closed in rounds 7-8:

  1. sort/top-k NULL ordering        (fixed r7: explicit NULLS LAST)
  2. NULL propagation in string/JSON building (fixed r8)
  3. NULL grouping/join keys in staging rigs  (fixed r8: null-safe splits,
     SQL DELETE semantics, null-safe enrichment joins)
  4. NULL embedding vectors          (fixed r7: vector ops ignore absent
     vectors; r8 hardened the centroid CTEs)
  5. codec rigs fed None             (fixed r8: NULL payloads quarantine)
  6. pandas dtype drift under NULLs  (fixed r8: symmetric NULL presence)

The full-surface sweep lives in tools/battery.py --class nulls (which imports
``plant_nulls`` from here — one source of truth for the corpus); this test
pins the keys that ever diverged, so a regression in any of them fails CI,
not a future probe.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query
from kinesis_test_spark.streaming.pipeline import local_rows

SF_SRC = "/root/testdata/sf0.001"


def plant_nulls(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with planted schema-legal NULL rows."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 4).to_pydict()
    extra = pa.table(
        {
            "event_id": [92000000, 92000001, 92000002, 92000003],
            "ts": h["ts"],
            "user_id": [h["user_id"][0], h["user_id"][1], None, h["user_id"][3]],
            "event_type": [h["event_type"][0], None, h["event_type"][2], h["event_type"][3]],
            "value": [None, h["value"][1], h["value"][2], h["value"][3]],
            "props": [h["props"][0], h["props"][1], h["props"][2], None],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    docs = pq.read_table(dest / "documents.parquet")
    dx = pa.table(
        {
            "doc_id": [92000010],
            "text": [None],
            "lang": ["en"],
            "source": ["edge"],
            "n_chars": [None],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, dx]), dest / "documents.parquet")

    emb = pq.read_table(dest / "embeddings.parquet")
    head = emb.to_pydict()
    base = [float(x) for x in head["embedding"][head["vec_id"].index(20)]]
    other = [float(x) for x in head["embedding"][head["vec_id"].index(33)]]
    ex = pa.table(
        {
            # NULL embedding under a real id (the r7/r8 class), plus the
            # r13 class: VALID embeddings under NULL vec_id — two scaled
            # copies (they TIE on every rounded cosine, so any
            # id-tie-broken rank or argmax that admits them is
            # engine-arbitrary) and one distinct direction. Identity-less
            # vectors are quarantined at ingestion (_vectors /
            # _SQL_VECTORS — proven q_kmeans_step divergence before the
            # quarantine).
            "vec_id": [92000011, None, None, None],
            "embedding": [
                None,
                [2.0 * x for x in base],
                [5.0 * x for x in base],
                list(other),
            ],
            "label": [None, head["label"][0], head["label"][0], head["label"][0]],
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("null_sf")
    plant_nulls(SF_SRC, d)
    return str(d)


# Every key a NULL probe ever flagged (r7 classes 1+4 and r8 classes
# 2/3/5/6), grouped by class for triage when one regresses.
NULL_EDGE_KEYS = [
    # class 1: sort/top-k NULL ordering
    "q_sort_multi",
    # class 2: NULL propagation through string/JSON building
    "q_fn_url",
    "q_fn_json",
    "q_fn_array",
    "q_fn_map",
    "q_explode_dq",
    "q_nested_parse",
    "q_nested_flatten",
    "q_variant",
    # class 3: NULL grouping/join keys in staging rigs
    "q_join_skew_salted",
    "q_udtf_table_arg",
    "q_table_evolve",
    "q_table_time_travel",
    "q_table_snapshot",
    "q_table_gdpr",
    "q_schema_evolve",
    "s_observe",
    "s_rate_limited",
    "s_upsert",
    "s_table_stream",
    "s_stream_union",
    "s_state_ttl",  # sentinel drop must not sweep the NULL-user session
    "s_window_users",  # COUNT(DISTINCT) semantics: NULL user never counted
    # class 4: NULL embedding vectors
    "q_sim_lsh",
    "q_emb_centroid",
    "q_emb_drift",
    "q_kmeans_step",
    "q_emb_pq",
    "q_ann_batch",
    "q_ann_recall",
    "q_sim_search_ivf",
    "q_sim_search_ivf_multiprobe",
    # class 6 (r13): VALID embeddings under NULL vec_id — identity-grain
    # quarantine at _vectors/_SQL_VECTORS (tied scaled copies would make
    # assign_cells argmax groups and vec_id-tie-broken rank cuts
    # engine-arbitrary; q_kmeans_step diverged before the quarantine)
    "q_sim_search",
    "q_sim_mrl",
    "q_emb_sq8",
    "q_emb_normalize",
    "q_sim_search_ivfpq",
    "q_dedup_semantic",
    # class 5: codec rigs fed None payloads
    "q_mm_decode",
    "q_mm_decode_arrow",
    "q_mm_features",
    "q_mm_frames",
    "q_mm_resize",
    "q_source_avro_py",
    "q_source_avro_resilient",
    "s_avro_ingest",
    "q_text_tokenize_ids",
]


@pytest.mark.parametrize("name", NULL_EDGE_KEYS)
def test_null_corpus_parity(spark, null_sf_dir, name):
    problems = check_query(spark, null_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)


# --- round-8 review-pass regressions (same silent-loss family) ----------


def test_mod_slice_partitions_negative_and_null_keys(spark):
    """mod_slice must PARTITION any key domain. Spark's % keeps the
    dividend's sign, so a plain `% n = i` predicate silently drops
    negative keys from every slice — the same bug class as the NULL drop,
    found by the round-8 review pass. pmod closes it."""
    from kinesis_test_spark.streaming.pipeline import mod_slice

    df = local_rows(
        spark, [(i,) for i in [-7, -1, 0, 1, 5, None, -4]], "user_id long"
    )
    slices = [df.filter(mod_slice(4, i)).count() for i in range(4)]
    assert sum(slices) == df.count(), slices
    # and the slices are disjoint: re-filtering any slice by another
    # slice's predicate yields nothing
    s0 = df.filter(mod_slice(4, 0))
    assert s0.filter(mod_slice(4, 1)).count() == 0


def test_decode_arrow_all_null_batch_keeps_schema():
    """An Arrow batch whose payloads are ALL NULL must still yield the
    declared string column (pa.array over all-None infers null type
    without an explicit type= — the quarantine path itself would crash)."""
    import pyarrow as pa

    from kinesis_test_spark.operators.multimodal import decode_batch_arrow

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], type=pa.int64()), pa.array([None, None], type=pa.binary())],
        names=["doc_id", "payload"],
    )
    (out,) = list(decode_batch_arrow(iter([batch])))
    assert out.schema.field("format").type == pa.string()
    assert out.schema.field("payload_len").type == pa.int64()
    assert out.column("format").null_count == 2


def test_exact_records_preserves_int64_past_2_53(spark):
    """The avro staging path must not round large ids: toPandas floats a
    long column that carries a NULL (2^53+1 -> 2^53), so the rigs stage
    via Arrow (exact_records). Round-trips the poisoned shape end to end."""
    from kinesis_test_spark.sources.avro_py import (
        EVENT_SCHEMA,
        exact_records,
        read_container,
        write_container,
    )

    big = 9007199254740993  # 2^53 + 1: not representable as float64
    df = local_rows(
        spark,
        [(1, big, "click", 1.0), (2, None, None, None)],
        "event_id long, user_id long, event_type string, value double",
    )
    recs = exact_records(df)
    assert {r["user_id"] for r in recs} == {big, None}
    _, back = read_container(write_container(recs, EVENT_SCHEMA))
    assert {r["user_id"] for r in back} == {big, None}
