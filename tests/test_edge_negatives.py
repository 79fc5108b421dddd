"""Standing pin for the NEGATIVE-key/value adversarial corpus (EDGES.md).

Schema-legal negatives (events.event_id / user_id / value, documents.doc_id,
embeddings.vec_id) are planted into a restaged sf0.001 and every key the
negatives probe ever flagged is re-run through the driver's own oracle
gate.  The class exists because int64 columns admit negatives but fixture
data is non-negative, so sign assumptions hide:

  * modulo slicing/bucketing: Spark % keeps the dividend's sign (pmod
    required — found by the round-8 review pass in mod_slice)
  * DuckDB `//` (and integer `/`) TRUNCATES toward zero, while Spark's
    shiftright is arithmetic (= FLOOR division by 2^k) — they disagree
    on negative operands, so oracles state the floor explicitly
    (subtract pmod first) when an operand can be negative
  * sentinel conventions: streaming rigs stage watermark-advancer rows
    with negative ids and drop them on read-back — a `>= 0` drop filter
    silently sweeps REAL negative-id rows (the in-band-signaling bug);
    rigs must anti-join the exact staged sentinel keys instead
  * math funcs on negative values: ln/log10/sqrt of a negative raises in
    DuckDB but yields NULL/NaN in Spark — oracles guard explicitly

The full-surface sweep lives in tools/battery.py --class negatives (which imports
``plant_negatives`` from here — one source of truth for the corpus); this
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


def plant_negatives(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with planted schema-legal negative
    ids and values. event_id=-1 / user_id=-1 deliberately collide with
    the streaming sentinel convention; -1000000007 probes large-magnitude
    sign handling; negative values probe math/bucketing consumers."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 4).to_pydict()
    extra = pa.table(
        {
            "event_id": [-1, -42, 93000002, 93000003],
            "ts": h["ts"],
            "user_id": [-1, -7, -1000000007, h["user_id"][3]],
            "event_type": ["click", "purchase", "view", "error"],
            "value": [1.5, -3.25, 2.0, -0.75],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    docs = pq.read_table(dest / "documents.parquet")
    dtxt = "a negative id document with some ordinary words in it"
    dx = pa.table(
        {
            "doc_id": [-3],
            "text": [dtxt],
            "lang": ["en"],
            "source": ["edge"],
            "n_chars": [len(dtxt)],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, dx]), dest / "documents.parquet")

    emb = pq.read_table(dest / "embeddings.parquet")
    eh = emb.slice(0, 1).to_pydict()
    dim = len(eh["embedding"][0])
    ex = pa.table(
        {
            "vec_id": [-2],
            "embedding": [[(-1.0) ** i * 0.1 for i in range(dim)]],
            "label": eh["label"],
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")


@pytest.fixture(scope="module")
def neg_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("neg_sf")
    plant_negatives(SF_SRC, d)
    return str(d)


# Every key the round-8 negatives probe flagged (9/263), grouped by the
# divergence each exposed:
NEG_EDGE_KEYS = [
    # Spark shiftright is ARITHMETIC; DuckDB // truncates toward zero
    "q_fn_bitwise",
    # narrowing cast: Spark wraps, DuckDB raises — now range-guarded NULL
    "q_fn_cast",
    # Python % is non-negative, DuckDB % keeps the dividend's sign —
    # pixel/sample formula oracles need the pmod wrap
    "q_mm_png_roundtrip",
    "q_mm_wav_features",
    "q_mm_framepack",
    # slice-membership oracles must state the pmod the staging uses
    "q_source_avro_resilient",
    # staging slices: % == i drops negative keys (pmod), 0-based BETWEEN
    # ranges drop them too (file 0 unbounded below, truthful stats)
    "q_table_compact",
    "q_table_gdpr",
    # in-band sentinel identity (reserved user -1) swept a REAL user -1 —
    # sentinels are now ignored out-of-band by time inside the stateful fn
    "s_state_ttl",
]


@pytest.mark.parametrize("name", NEG_EDGE_KEYS)
def test_negative_corpus_parity(spark, neg_sf_dir, name):
    problems = check_query(spark, neg_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_stream_join_left_keeps_negative_id_clicks(spark, neg_sf_dir):
    """s_stream_join_left is rows-only, so the parity sweep can't see a
    silently-dropped row — pin the review finding directly: the planted
    click with event_id=-1 (a LEGAL id that collides with the old reserved
    sentinel id) must survive the sentinel scrub, which is now out-of-band
    by time (sentinels sit ≥1h past the real max ts), not by id sign."""
    from kinesis_test_spark import registry

    registry.load_all()
    out = registry.QUERIES["s_stream_join_left"](spark, neg_sf_dir).toPandas()
    neg = out[out["click_id"] == -1]
    # exactly ONE: the real planted click (unmatched — the only planted
    # purchase belongs to user -7). Zero would mean the scrub still drops
    # by id sign; two would mean the far-future sentinel click (which
    # shares id -1) leaked past the time-based scrub.
    assert len(neg) == 1, out[out["click_id"] < 0]
    assert neg["purchase_id"].isna().all()
